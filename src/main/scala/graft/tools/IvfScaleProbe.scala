package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Third-decade octave probe for the two-level IVF build (VERDICT r18
  * item 2) — `ivfKnnAuto`'s scale path driven from a GENERATED source
  * (`spark.range` + hash-synthesized vectors, no parquet anywhere, the
  * [[SketchScaleProbe]] discipline) so the 2M-vector decade is bounded
  * by compute, not by the box's disk: the r18 reading at 200k rows
  * (0.21× of linear) still had fixed session overhead amortizing, and
  * the flop model says the two-level build is ~n^1.25 asymptotically —
  * this probe is where that claim meets a third measured decade.
  *
  * args: rows [mode] — one size per invocation (quiet-session
  * protocol; diff across runs). mode `auto` (default) times the
  * deployment entry point + a recall audit; `cmp` adds the
  * single-level `ivfKnn` leg at the SAME derived (c, nprobe) — the
  * TwoLevelMinCells crossover evidence at whatever decade the size
  * puts it (expect the single leg to be ~n^1.5-painful at 2M; run it
  * deliberately or derive the ratio from the measured per-decade
  * exponents). mode `fixp` pins the probe COUNT at ~1000 instead of
  * the default corpus FRACTION (n/20): the default leg composes the
  * n^1.25 build with the documented O(n^1.75) bulk-probe term
  * (probes × per-probe n^0.75 — [[CellKnobs]]' stated bulk-kNN shape),
  * so past ~1M rows the probe term dominates the reading; the fixp leg
  * is the BUILD exponent isolated (1000 probes' work is n^0.75,
  * negligible at every decade).
  *
  * Synthesized corpus shape: 1024 deterministic cluster centers in
  * d=64, each row = its center (component range ±0.8, drawn from
  * murmur3 of (center, dim)) plus per-row noise (±0.2) — clustered
  * enough that IVF cells and recall are meaningful, fully
  * deterministic and partition-independent (every value derives from
  * the row id), codegen'd end to end. The corpus is localCheckpointed
  * untimed so the timed legs measure the operator, not the generator
  * (the parquet-dir probes pay a scan per pass the same way).
  */
object IvfScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: IvfScaleProbe rows [auto|cmp|fixp|fixpcmp]")
    val n = args(0).toLong
    val mode = if (args.length > 1) args(1) else "auto"
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    import graft.sim.{CellKnobs, Ivf, Knn}

    def synth(rows: Long): DataFrame =
      spark.range(rows).select(col("id").as("vec_id"),
        expr("transform(sequence(0, 63), i -> cast(" +
          "((pmod(hash(pmod(id, 1024), i, 7), 2001) - 1000) / 1250.0)" +
          " + ((pmod(hash(id, i, 13), 2001) - 1000) / 5000.0)" +
          " as float))").as("embedding"))

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    val emb = synth(n).localCheckpoint()
    // fixpcmp = fixp's pinned probe count + cmp's single-level leg (the
    // crossover evidence with the build term isolated)
    val fixedProbes = mode == "fixp" || mode == "fixpcmp"
    val wantSingle = mode == "cmp" || mode == "fixpcmp"
    val probe =
      if (fixedProbes) col("vec_id") % math.max(20L, n / 1000L) === 0
      else col("vec_id") % 20 === 0
    val fitFraction = math.min(1.0, 20000.0 / n)
    // untimed warmup on a sliver: JIT/codegen of the cosine kernels,
    // TopK aggregate and the k-means fit land here. Warmup-specific
    // probe filter (ADVICE r19): the fixp modes' full-size modulus
    // (n/1000, e.g. 2000 at n=2M) would leave only vec_id 0 qualifying
    // in the 2000-row warmup corpus, so the probe-side kernels would
    // warm up on a single probe and leak JIT cost into the timed leg.
    noop(Ivf.ivfKnnAuto(synth(2000L).localCheckpoint(), "vec_id",
      "embedding", probeFilter = col("vec_id") % 20 === 0, k = 3,
      corpusRows = Some(2000L)))

    val c = CellKnobs.cellsFor(n)
    val nprobe = CellKnobs.nprobeFor(c)
    val (c1, c2) = CellKnobs.coarseFineSplit(c)
    val (np1, np2) = CellKnobs.probeSplit(nprobe)

    val tAuto = timed {
      noop(Ivf.ivfKnnAuto(emb, "vec_id", "embedding",
        probeFilter = probe, k = 3, corpusRows = Some(n),
        fitFraction = fitFraction))
    }
    val tSingle =
      if (wantSingle) timed {
        noop(Ivf.ivfKnn(emb, "vec_id", "embedding", probeFilter = probe,
          k = 3, c = c, nprobe = nprobe, fitFraction = fitFraction))
      } else -1.0

    // recall audit on a ~100-probe stride subset (O(100·n·d) brute
    // force at any decade — never dominates the timed legs)
    val stride = math.max(20L, n / 100L)
    val rProbe = col("vec_id") % stride === 0
    def top(df: DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = top(Knn.bruteForceKnn(emb, "vec_id", "embedding",
      probeFilter = rProbe, k = 3))
    val rAuto = top(Ivf.ivfKnnAuto(emb, "vec_id", "embedding",
      probeFilter = rProbe, k = 3, corpusRows = Some(n),
      fitFraction = fitFraction))
    def recall(a: Set[(Long, Long)]): Double =
      if (exact.isEmpty) 1.0
      else (a intersect exact).size.toDouble / exact.size
    val rSingle =
      if (wantSingle)
        recall(top(Ivf.ivfKnn(emb, "vec_id", "embedding",
          probeFilter = rProbe, k = 3, c = c, nprobe = nprobe,
          fitFraction = fitFraction)))
      else -1.0

    println(f"""{"rows":$n,"mode":"$mode","cells":$c,"c1":$c1,""" +
      f""""c2":$c2,"nprobe":$nprobe,"np1":$np1,"np2":$np2,""" +
      f""""two_level":${c >= CellKnobs.TwoLevelMinCells},""" +
      f""""auto_sec":$tAuto%.2f,"single_sec":$tSingle%.2f,""" +
      f""""recall_probes":${exact.size / 3},""" +
      f""""recall_auto":${recall(rAuto)}%.3f,""" +
      f""""recall_single":$rSingle%.3f}""")
    spark.stop()
  }
}
