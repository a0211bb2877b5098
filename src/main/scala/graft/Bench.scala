package graft

/** Benchmark main: runs every SparkEntry query against
  * sys.env("SPARK_GRAFT_SF_DIR") and prints one JSON line with per-query
  * seconds. Results go to the `noop` sink so the full plan executes
  * (a bare count() would let Catalyst prune projections and under-measure).
  * Gates that throw are listed under `failed`, never timed, and make the
  * run exit non-zero.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(32)
    val spark = GraftSession.local(cpus)
    // Untimed warmup: JIT/codegen/parquet-footer costs land here, not on
    // the alphabetically-first query.
    try SparkEntry.queries("q01_summary_agg")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}")
    }
    // SparkEntry.querySubset: optional SPARK_GRAFT_ONLY re-measurement
    // subset (absent = all; driver mode).
    // Per query: total seconds and its RunMetrics record. The record's
    // export time (inside ModelStore.save) is reported apart as
    // `export_s`: the r13 exported-model gates pay a fit+export stage
    // that is ORACLE overhead, not operator work, and folding it into
    // one number made r13's totals incomparable with pre-r13 anchors
    // (VERDICT r13 item 2).
    // A gate that throws is a FAILURE, never a timing: it is listed in
    // `failed`, left out of `queries`/`total`, and the run exits non-zero.
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    val results = SparkEntry.querySubset.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
      try {
        val (sec, rec) = graft.util.RunMetrics.measure(spark) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        Some((name, sec, rec))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        failed += name
        None
      }
    }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def obj(kv: Seq[(String, String)]): String =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val qs = obj(results.map { case (k, v, _) => k -> f"$v%.3f" })
    // only gates that actually exported (others would be noise-y zeros)
    val ex = obj(results.filter(_._3.exportMs > 5)
      .map { case (k, _, r) => k -> f"${r.exportMs / 1e3}%.3f" })
    val total = results.map(_._2).sum
    // Provenance (VERDICT r12 item 8): the git SHA ties the numbers to a
    // tree, and the control query's reading (q19, BASELINE.md anchor
    // 1.20) lets any reader phase-correct the run without hunting
    // through BENCHLOG — the box's documented noise model is a
    // per-phase multiplier plus per-query spikes.
    val sha =
      try {
        val p = new ProcessBuilder("git", "rev-parse", "HEAD").start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8).trim
        if (p.waitFor() == 0 && out.matches("[0-9a-f]{40}")) out else ""
      } catch { case _: Throwable => "" }
    // Dirty-tree flag (ADVICE r13): a bench from an uncommitted tree must
    // not masquerade as a reading of git_head's code. The records this
    // repo's OWN measurement tools write at run time are excluded
    // (ADVICE r16/r17): run N of a clean-code session churns only the
    // records run N-1 wrote (this file's BENCH_LOCAL.json, and the
    // AUDITS_LOCAL.json / AUDITS_SF01.json that oracle_check.py writes
    // when GRAFT_AUDITS_OUT names one of them, as a verify before the
    // bench may), and flagging record churn as code dirt defeated the
    // provenance the flag exists to pin. Driver/judge artifacts
    // (VERDICT.md, BENCH_r*.json, ...) are deliberately NOT excluded —
    // conservative direction: false-dirty is acceptable, false-clean
    // never. Keep this list in sync with the writers (here and
    // tools/oracle_check.py).
    val runRecords =
      Set("BENCH_LOCAL.json", "AUDITS_LOCAL.json", "AUDITS_SF01.json")
    val dirty =
      try {
        val p = new ProcessBuilder("git", "status", "--porcelain").start()
        val out = new String(p.getInputStream.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        // porcelain lines are "XY <path>" — compare the exact path so
        // only the top-level record files are excluded, never e.g. a
        // stray subdir/BENCH_LOCAL.json (an uncommitted tree must not
        // masquerade as clean)
        p.waitFor() == 0 && out.linesIterator
          .exists(l => l.trim.nonEmpty && !runRecords(l.drop(3).trim))
      } catch { case _: Throwable => false }
    val control = results.collectFirst {
      case ("q19_star_join_agg", v, _) => v }.getOrElse(-1.0)
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","git_head":"$sha","git_dirty":$dirty,"control_q19_sec":$control%.3f,"cpus":$cpus,"queries":$qs,"export_s":$ex,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // Per-gate layer record second, so first-JSON-line consumers still
    // read the canonical bench object.
    val layers = s"""{"layers":${obj(results.map(r => r._1 -> r._3.json))}}"""
    println(layers)
    // Compact summary LAST (VERDICT r19 item 2): the canonical line is
    // ~5.7 KB with 182 queries, so a bounded stdout tail window (the
    // driver keeps 2000 chars) clips it mid-object and has parsed no
    // bench JSON since ~r15. This line is <200 bytes and printed last,
    // so any tail window that sees the end of stdout can parse at least
    // the totals. Additive only: first-JSON-line consumers still get the
    // canonical object above, and the persisted BENCH_LOCAL.json below
    // still carries the full per-query map.
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","control_q19_sec":$control%.3f,"cpus":$cpus,"n":${results.size},"failed":$failedJson,"git_head":"$sha","git_dirty":$dirty,"sf":"$sfDir","summary":true}""")
    // Stdout capture windows can clip the (long) JSON line mid-object —
    // the r11 bench artifact lost its whole first family that way. Also
    // persist the full line in-tree so every round has a complete
    // machine-readable record independent of how stdout was captured.
    // Full-tree runs only: a SPARK_GRAFT_ONLY subset re-measure must not
    // clobber the canonical full-tree record.
    if (!sys.env.contains("SPARK_GRAFT_ONLY"))
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (line + "\n" + layers + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
