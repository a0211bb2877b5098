package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Sketches
import graft.util.OhaHeadroom

/** The ObjectHashAggregate sort-fallback guard as a LIBRARY contract
  * (VERDICT r18 item 1): these tests run in the shared TestSpark
  * session and UNSET
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (which
  * [[GraftSession]] sets) around each check — i.e. exactly the
  * consumer-session shape where the cliff used to be silent. The fallback-task METRIC (`numTasksFallBacked` on
  * ObjectHashAggregateExec) is the ground truth: the contrast test
  * proves the metric detects a forced fallback, the guarantee test
  * proves the guarded path reports zero in a default-conf session.
  */
class OhaHeadroomSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Runs the frame and sums `numTasksFallBacked` over every
    * ObjectHashAggregate in the executed plan. AQE is disabled by the
    * callers while these frames run so the executed plan is the plain
    * tree (no QueryStageExec unwrapping needed). */
  private def fallbackTasks(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case o: org.apache.spark.sql.execution.aggregate
          .ObjectHashAggregateExec =>
        o.metrics.get("numTasksFallBacked").map(_.value).getOrElse(0L)
    }.sum
  }

  /** 300 (series, sub) groups landing in ONE scan task — past Spark's
    * default threshold (128), below OhaHeadroom.Floor. */
  private def manyGroupFrame(): DataFrame =
    spark.range(30000).repartition(1).select(
      lit("s").as("g"),
      pmod(col("id"), lit(300L)).cast("string").as("sub"),
      pmod(col("id"), lit(1000L)).as("k"))

  private def withConfs(pairs: (String, Option[String])*)(body: => Unit)
      : Unit = {
    val saved = pairs.map { case (k, _) =>
      k -> (try Some(spark.conf.get(k)) catch { case _: Exception => None })
    }
    try {
      pairs.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("ensure raises a default-conf session to the floor, idempotently") {
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      assert(spark.conf.get(OhaHeadroom.Key, "128").toInt == 128)
      assert(OhaHeadroom.ensure(spark) == OhaHeadroom.Floor)
      assert(spark.conf.get(OhaHeadroom.Key).toInt == OhaHeadroom.Floor)
      assert(OhaHeadroom.ensure(spark) == OhaHeadroom.Floor)
    }
  }

  test("ensure never lowers an externally-set sufficient threshold") {
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> Some("8192"),
        OhaHeadroom.OptOutKey -> None) {
      assert(OhaHeadroom.ensure(spark) == 8192)
      assert(spark.conf.get(OhaHeadroom.Key) == "8192")
    }
  }

  test("ensure respects the opt-out and leaves the conf untouched") {
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> Some("64"),
        OhaHeadroom.OptOutKey -> Some("false")) {
      assert(OhaHeadroom.ensure(spark) == 64)
      assert(spark.conf.get(OhaHeadroom.Key) == "64")
    }
  }

  test("the fallback metric detects a forced sort fallback (contrast)") {
    withConfs("spark.sql.adaptive.enabled" -> Some("false"),
        OhaHeadroom.Key -> Some("130"),
        OhaHeadroom.OptOutKey -> Some("false")) {
      val n = fallbackTasks(Sketches.mergeProfile(manyGroupFrame(),
        col("g"), col("sub"), col("k")))
      assert(n > 0, "expected the 300-groups-in-one-task frame to " +
        s"fall back at threshold 130, metric read $n — if this fails " +
        "the zero-fallback assertion below proves nothing")
    }
  }

  test("mergeProfile has no sort fallback in a default-conf session") {
    withConfs("spark.sql.adaptive.enabled" -> Some("false"),
        OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      val n = fallbackTasks(Sketches.mergeProfile(manyGroupFrame(),
        col("g"), col("sub"), col("k")))
      assert(n == 0, s"guarded mergeProfile fell back on $n tasks in " +
        "a default-conf session — the library guarantee regressed")
      // and the session now carries the raised floor for its lifetime
      assert(spark.conf.get(OhaHeadroom.Key).toInt >= OhaHeadroom.Floor)
    }
  }

  test("quantileProfile has no sort fallback in a default-conf session") {
    withConfs("spark.sql.adaptive.enabled" -> Some("false"),
        OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      val df = spark.range(30000).repartition(1).select(
        pmod(col("id"), lit(300L)).cast("string").as("g"),
        (col("id") % 97).cast("double").as("v"))
      val n = fallbackTasks(
        Sketches.quantileProfile(df, col("g"), col("v"), accuracy = 1000))
      assert(n == 0, s"guarded quantileProfile fell back on $n tasks")
    }
  }

  test("ensureSmallBuffer derives the budget floor from the buffer size") {
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      val heap = graft.functions.TopK.heapBytes(3) // 112 B
      val expect = (OhaHeadroom.TargetTaskBytes /
        (heap + OhaHeadroom.EntryOverheadBytes)).toInt
      assert(expect > OhaHeadroom.Floor && expect < OhaHeadroom.MaxFloor)
      assert(OhaHeadroom.ensureSmallBuffer(spark, heap) == expect)
      assert(spark.conf.get(OhaHeadroom.Key).toInt == expect)
      // a LARGER buffer registering later recomputes the guard's own
      // raise DOWN to the new budget (ADVICE r19: holding `expect`
      // 1 MB buffers would be hundreds of GB of per-task hash state)
      assert(OhaHeadroom.ensureSmallBuffer(spark, 1 << 20) ==
        OhaHeadroom.Floor)
      assert(spark.conf.get(OhaHeadroom.Key).toInt == OhaHeadroom.Floor)
      // and the tiny buffer re-registering cannot raise it back: the
      // session's largest-known buffer stays 1 MB
      assert(OhaHeadroom.ensureSmallBuffer(spark, heap) ==
        OhaHeadroom.Floor)
    }
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      // large buffer from a default session: Floor binds
      assert(OhaHeadroom.ensureSmallBuffer(spark, 1 << 20) ==
        OhaHeadroom.Floor)
    }
  }

  test("a blanket ensure caps an earlier tiny-buffer raise (ADVICE r19)") {
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      val heap = graft.functions.TopK.heapBytes(3)
      val raised = OhaHeadroom.ensureSmallBuffer(spark, heap)
      assert(raised > OhaHeadroom.Floor)
      // a KMV/GK-class blanket consumer in the SAME session must not
      // inherit the ~280k-group threshold (~multi-GB at ~33 KB/buffer)
      assert(OhaHeadroom.ensure(spark) == OhaHeadroom.Floor)
      assert(spark.conf.get(OhaHeadroom.Key).toInt == OhaHeadroom.Floor)
    }
  }

  test("an externally-set threshold is never recomputed down") {
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> Some("300000"),
        OhaHeadroom.OptOutKey -> None) {
      // the session owner pinned 300k themselves; registering a large
      // buffer warns nothing away — the guard only recomputes raises it
      // made itself
      assert(OhaHeadroom.ensure(spark) == 300000)
      assert(OhaHeadroom.ensureSmallBuffer(spark, 1 << 20) == 300000)
      assert(spark.conf.get(OhaHeadroom.Key) == "300000")
    }
  }

  /** 2000 probes' candidate rows landing in ONE task — far past both
    * Spark's default threshold (128) and OhaHeadroom.Floor (4096 would
    * still cover this; the point is the default-conf session). Scores
    * derive from the ids so ranking is deterministic. */
  private def knnScoredFrame(): DataFrame =
    spark.range(200000).repartition(1).select(
      pmod(col("id"), lit(2000L)).as("probe_id"),
      (col("id") * 7919L % 100000L).as("neighbor_id"),
      (pmod(col("id") * 31L, lit(997L)) / 997.0).as("cos"))

  test("the kNN top-k tail falls back when forced (contrast)") {
    withConfs("spark.sql.adaptive.enabled" -> Some("false"),
        OhaHeadroom.Key -> Some("130"),
        OhaHeadroom.OptOutKey -> Some("false")) {
      val n = fallbackTasks(graft.sim.Knn.rankTopK(knnScoredFrame(), 3))
      assert(n > 0, "expected the 2000-probes-in-one-task frame to " +
        s"fall back at threshold 130, metric read $n")
    }
  }

  test("the kNN top-k tail has no sort fallback in a default-conf session") {
    OhaHeadroom.resetSessionState(spark)
    withConfs("spark.sql.adaptive.enabled" -> Some("false"),
        OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      val n = fallbackTasks(graft.sim.Knn.rankTopK(knnScoredFrame(), 3))
      assert(n == 0, s"guarded rankTopK fell back on $n tasks in a " +
        "default-conf session — the r19 ANN headroom guarantee regressed")
      assert(spark.conf.get(OhaHeadroom.Key).toInt > OhaHeadroom.Floor)
    }
  }

  test("kNN guarded results equal the forced-fallback results") {
    def run(): Seq[(Long, Long, Int)] =
      graft.sim.Knn.rankTopK(knnScoredFrame(), 3)
        .orderBy("probe_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    var fast: Seq[(Long, Long, Int)] = Nil
    var slow: Seq[(Long, Long, Int)] = Nil
    OhaHeadroom.resetSessionState(spark)
    withConfs(OhaHeadroom.Key -> None, OhaHeadroom.OptOutKey -> None) {
      fast = run()
    }
    withConfs(OhaHeadroom.Key -> Some("130"),
        OhaHeadroom.OptOutKey -> Some("false")) {
      slow = run()
    }
    assert(fast == slow)
  }

  test("guarded results equal the unguarded (fallback) results") {
    // the fallback is a performance cliff, never a correctness change —
    // pin that so the guard can never be "fixing" wrong results
    val fast = withResult(OhaHeadroom.Key -> None,
      OhaHeadroom.OptOutKey -> None)
    val slow = withResult(OhaHeadroom.Key -> Some("130"),
      OhaHeadroom.OptOutKey -> Some("false"))
    assert(fast == slow)
  }

  private def withResult(pairs: (String, Option[String])*)
      : Seq[(String, Long, Long)] = {
    var out: Seq[(String, Long, Long)] = Nil
    withConfs(pairs: _*) {
      out = Sketches.mergeProfile(manyGroupFrame(), col("g"), col("sub"),
          col("k"))
        .orderBy("series").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    }
    out
  }
}
