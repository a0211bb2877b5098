package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.util.RunMetrics

/** Plan ECONOMICS assertions — PlanSpec pins plan SHAPE (broadcasts,
  * pushdown, no cartesians); this pins plan COST: per-query ceilings on
  * total shuffle bytes WRITTEN at the spec sf, so a regression that
  * moves a width-restoring join ahead of a shuffle (or un-broadcasts a
  * dim, or drops a narrow projection before a window sort) fails a spec
  * instead of waiting for a bench eyeball. Shuffle bytes are a plan
  * property, not a timing — near-deterministic run to run (compression
  * jitter is why ceilings carry ~2x headroom over the recorded
  * measurement, noted per query) — and at 100 TB the shuffle IS the
  * cost, so a 2x byte blow-up at sf0.001 is the same regression that
  * melts the cluster run.
  *
  * Also asserts ZERO spill on the headline queries: at the spec sf every
  * partition must fit its executor budget; any spill here means a
  * memory-hostile plan change (e.g. a window sort swallowing the full
  * row width).
  */
class ShuffleBytesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf

  /** (shuffle bytes written, bytes spilled) across every job one noop
    * execution of the gate triggers (model-export writes included — the
    * ceiling covers the whole gate). */
  private def measure(name: String): (Long, Long) = {
    val rec = RunMetrics.measure(spark) {
      SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }._2
    (rec.shuffleWriteBytes, rec.spillBytes)
  }

  // Ceilings (bytes) at sf0.001 — ~3x the recorded r14 measurement
  // (printed by this spec each run): q19 99 B (every dim broadcasts,
  // only the 5-row aggregate exchanges), q29 78.3 KB (id-space closure
  // frontiers), p12 50.3 KB (narrow pack windows), s08 2.22 MB (code
  // table + refine joins), s04 20.3 MB (the one genuinely shuffle-heavy
  // gate: every row is a probe, candidate pairs restore vectors via the
  // width-restoring id-join AFTER pair dedup — the ceiling pins that
  // join staying downstream). A breach means the plan got structurally
  // wider, not that the box got slower; headroom absorbs compression
  // and AQE jitter, which measured well under 1.1x run-to-run.
  private val budgets: Map[String, Long] = Map(
    "q19_star_join_agg" -> 10_000L,
    "q29_full_closure" -> 250_000L,
    "s04_knn_graph" -> 60_000_000L,
    "s08_knn_ivfpq" -> 7_000_000L,
    "p12_pipeline_e2e" -> 150_000L,
    // d02 925 KB (banding bounds pairs; the dict export is a narrow
    // distinct), q40 11.9 KB (closure id frames + render join)
    "d02_dedup_minhash" -> 3_000_000L,
    "q40_ingest_notify" -> 50_000L)

  for ((name, budget) <- budgets.toSeq.sortBy(_._1)) {
    test(s"$name shuffles under ${budget / 1000} KB and never spills " +
        "at the spec sf") {
      val (written, spilled) = measure(name)
      info(f"$name: shuffle_write=$written%,d B spilled=$spilled%,d B " +
        f"(budget $budget%,d)")
      assert(written <= budget,
        s"$name shuffled $written bytes > ceiling $budget — the plan " +
          "got structurally wider (un-broadcast dim? width-restoring " +
          "join moved before a shuffle? lost narrow projection?)")
      assert(spilled == 0L,
        s"$name spilled $spilled bytes at the spec sf — a memory-" +
          "hostile plan change")
    }
  }
}
