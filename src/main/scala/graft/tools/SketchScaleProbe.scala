package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Third-decade (1000×) octave probe for the bounded-state sketch /
  * profile family (VERDICT r17 item 6) — k01/k02/k07/k08/k09-shaped
  * sketches plus e04's incremental-AUC state fold and e08's Poisson
  * bootstrap, driven from a GENERATED source (`spark.range` + md5
  * column synthesis, no parquet anywhere) so the reading is bounded by
  * compute, not by the box's disk — the r17 1000× parquet attempt died
  * in shuffle scratch on a disk-heavy operator; these operators carry
  * corpus-size-independent STATE, so the generated source lets the
  * claim meet a true three-decade corpus.
  *
  * args: rows [rows2 ...] — one timed session per invocation is the
  * protocol (quiet box); pass one size per run and diff across runs.
  *
  * Synthesized shape mirrors the events table: 7 event types, a user
  * domain growing as n/20 (so the HLL actually meets new cardinality
  * each decade), a 3-significant-digit value grid, 30 days of
  * timestamps. All columns are md5-derived from the row id —
  * deterministic, partition-independent, codegen'd.
  */
object SketchScaleProbe {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: SketchScaleProbe rows [rows...]")
    val spark = graft.GraftSession.local(graft.GraftSession.cpus(32))
    // typed-buffer aggregates (datasketches HLL) fall back to
    // SORT-BASED aggregation past
    // spark.sql.objectHashAggregate.sortBased.fallbackThreshold
    // distinct groups per task (Spark default 128) — k09's per-(series,
    // day) pass holds 210 groups, so at the third decade the fallback
    // sorts the whole corpus. Since r19 the library itself raises the
    // threshold (util.OhaHeadroom in Sketches.mergeProfile /
    // quantileProfile), so the probe's DEFAULT unsets the session's
    // threshold back to Spark's: the "no cliff without the harness conf"
    // check. GRAFT_OHA_FALLBACK=<n> pins the threshold AND opts out of
    // the auto-raise, so the cliff itself stays measurable (=128
    // reproduces the old default-conf behavior).
    sys.env.get("GRAFT_OHA_FALLBACK") match {
      case Some(n) =>
        spark.conf.set(graft.util.OhaHeadroom.Key, n)
        spark.conf.set(graft.util.OhaHeadroom.OptOutKey, "false")
      case None => spark.conf.unset(graft.util.OhaHeadroom.Key)
    }
    import graft.operators.{Eval, Sketches}

    def synth(n: Long): DataFrame = {
      val userDomain = math.max(100L, n / 20L)
      def draw(tag: String) =
        conv(substring(md5(concat(lit(tag), col("id"))), 1, 15), 16, 10)
          .cast("long")
      spark.range(n).select(
        concat(lit("t"), pmod(col("id"), lit(7L))).as("event_type"),
        pmod(draw("u"), lit(userDomain)).as("user_id"),
        (pmod(draw("v"), lit(100000L)).cast("double") / 100.0).as("value"),
        timestamp_seconds(lit(1735689600L) + pmod(col("id"),
          lit(30L * 86400L))).as("ts"),
        col("id"))
    }
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // optional leg filter: GRAFT_SKETCH_LEGS=hll,gk,... (default all) —
    // lets a decade re-read run one leg in a clean session instead of
    // inheriting the heap/page-cache state of a 10-minute predecessor
    val legs = sys.env.get("GRAFT_SKETCH_LEGS")
      .map(_.split(",").map(_.trim).toSet)
      .getOrElse(Set("hll", "hll_only", "gk", "merge", "auc", "boot",
        "boot_xx"))
    // merge128: the same merge leg with the threshold PINNED to Spark's
    // 128 default and the library auto-raise opted out — the sort-
    // fallback cliff itself, measured in the SAME session as the
    // guarded leg (cross-session deltas at these wall lengths are
    // phase-dominated on this box; the r18 s08/s07 instrument). Runs
    // after `merge` in the leg order, restores the confs either way.
    def pinned128(f: => Unit): Unit = {
      val s = spark
      s.conf.set(graft.util.OhaHeadroom.Key, "128")
      s.conf.set(graft.util.OhaHeadroom.OptOutKey, "false")
      try f finally {
        s.conf.unset(graft.util.OhaHeadroom.Key)
        s.conf.unset(graft.util.OhaHeadroom.OptOutKey)
      }
    }
    for (n <- args.map(_.toLong)) {
      val ev = synth(n)
      // untimed warmup at a sliver of n: JIT/codegen land here
      noop(Sketches.distinctProfile(synth(math.max(1000L, n / 1000L)),
        col("event_type"), col("user_id"), rsd = 0.02))
      // the merge legs' typed-buffer path (hll_sketch_agg/union) JITs
      // separately from the warmup above — warm it too, or the FIRST
      // merge leg in a multi-leg session carries the JIT cost and a
      // same-session contrast reads backwards (measured: merge 60.1 vs
      // merge128 51.7 at 100M before this warmup)
      if (legs.exists(_.startsWith("merge")))
        // n/50, not n/1000: C2 compilation of the sketch fold needs
        // real iteration volume or the first timed leg still carries it
        noop(Sketches.mergeProfile(synth(math.max(1000L, n / 50L)),
          col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
          col("user_id"), lgK = 12))
      def leg(name: String)(f: => Unit): Option[(String, Double)] =
        if (legs(name)) Some(name -> timed(f)) else None
      val out = Seq(
        // k01/k08 shape: HLL NDV profile INCLUDING the exact anchor
        // countDistinct, exactly as the contract gates run it — the
        // exact column is the known super-linear term at scale
        leg("hll")(noop(Sketches.distinctProfile(ev,
          col("event_type"), col("user_id"), rsd = 0.02))),
        // the PRODUCTION path: sketch only, no exact anchor — what k01
        // ships at 100 TB ("the exact ndv column is the one you DROP")
        leg("hll_only")(noop(ev.groupBy(col("event_type").as("series"))
          .agg(count(lit(1)).as("n_rows"),
            approx_count_distinct(col("user_id"), 0.02).as("ndv_hll")))),
        // k02/k07 shape: GK quantile profile
        leg("gk")(noop(Sketches.quantileProfile(ev,
          col("event_type"), col("value"), accuracy = 10000))),
        // k09 shape: per-day HLL partials union-merged + direct pass
        leg("merge")(noop(Sketches.mergeProfile(ev,
          col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
          col("user_id"), lgK = 12))),
        leg("merge128")(pinned128(noop(Sketches.mergeProfile(ev,
          col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
          col("user_id"), lgK = 12)))),
        // repeats in A,B,A,B order: the drift check — compare pairwise
        // (merge vs merge128, merge_b vs merge128_b); if the two pairs
        // disagree wildly the session phase moved and the contrast is
        // noise, not signal
        leg("merge_b")(noop(Sketches.mergeProfile(ev,
          col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
          col("user_id"), lgK = 12))),
        leg("merge128_b")(pinned128(noop(Sketches.mergeProfile(ev,
          col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
          col("user_id"), lgK = 12)))),
        // e04 shape: AUC state fold — base state on 3/4 of the corpus,
        // delta fold of the rest, statistic from the merged state
        leg("auc")(noop(Eval.aucFromState(Eval.aucMergeStates(
          Eval.aucState(ev.filter(col("id") % 4 =!= 3),
            pmod(col("user_id"), lit(500L)), col("event_type") === "t0"),
          Eval.aucState(ev.filter(col("id") % 4 === 3),
            pmod(col("user_id"), lit(500L)),
            col("event_type") === "t0"))))),
        // e08 shape: 64-replicate Poisson bootstrap of the mean —
        // md5 coin (the pre-r19 draw; boot leg keeps it so the decade
        // record stays comparable) vs xxhash64 coin (the production
        // draw since r19) in the same session: the draw is the leg's
        // constant factor, so boot/boot_xx is the digest contrast
        leg("boot")(noop(Eval.poissonBootstrap(ev, col("id"),
          pmod(col("user_id"), lit(1000L)), replicates = 64,
          seed = "graft-boot", loRank = 2, hiRank = 63))),
        leg("boot_xx")(noop(Eval.poissonBootstrap(ev, col("id"),
          pmod(col("user_id"), lit(1000L)), replicates = 64,
          seed = "graft-boot", loRank = 2, hiRank = 63,
          xxDraw = true)))
      ).flatten
      // Fallback-task metric (item 1's phase-independent instrument —
      // wall-clock contrasts on this box are noise at these lengths):
      // numTasksFallBacked summed over the ObjectHashAggregates in the
      // executed plan, for the guarded default-conf path and the
      // pinned-128 path. The library guarantee is fb=0 on the guarded
      // leg; the pinned leg proves the metric detects the cliff.
      def fallbackTasks(df: DataFrame): Long = {
        df.collect()
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = {
          val self = p match {
            case o: org.apache.spark.sql.execution.aggregate
                .ObjectHashAggregateExec =>
              o.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
            case _ => 0L
          }
          val kids = p match {
            case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => Seq(a.executedPlan)
            case q: org.apache.spark.sql.execution.adaptive
                .QueryStageExec => Seq(q.plan)
            case other => other.children
          }
          self + kids.map(walk).sum
        }
        walk(df.queryExecution.executedPlan)
      }
      val fb =
        if (legs.exists(_.startsWith("merge"))) {
          def prof = Sketches.mergeProfile(ev, col("event_type"),
            date_format(col("ts"), "yyyy-MM-dd"), col("user_id"), lgK = 12)
          val guarded = fallbackTasks(prof)
          var pinned = -1L
          pinned128 { pinned = fallbackTasks(prof) }
          s""","merge_fb_tasks":$guarded,"merge128_fb_tasks":$pinned"""
        } else ""
      println(out.map { case (k, v) => "\"" + k + f"""_sec\":$v%.2f""" }
        .mkString(s"""{"rows":$n,""", ",", fb + "}"))
    }
    spark.stop()
  }
}
