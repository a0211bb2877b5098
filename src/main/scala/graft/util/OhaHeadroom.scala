package graft.util

import org.apache.spark.sql.SparkSession

/** Library-side guard for the ObjectHashAggregate sort-fallback cliff
  * (VERDICT r18 item 1, BENCHLOG r18 item 6).
  *
  * Typed-buffer aggregates (Datasketches `hll_sketch_agg` /
  * `hll_union_agg`, `percentile_approx`, this repo's
  * [[graft.functions.TopKAggregate]] family) plan as
  * `ObjectHashAggregateExec`, which silently falls back to SORT-BASED
  * aggregation once a task has seen
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` distinct
  * groups (Spark default: 128). The fallback is correct but sorts the
  * task's whole remaining input — measured at 2.1× wall on a 100M-row
  * merge profile with 210 groups, and 55 GB of sort spill on the
  * 2M-vector IVF probe. Until r18 only the Bench/Verify harness
  * sessions raised the threshold; a library consumer calling
  * [[graft.operators.Sketches.mergeProfile]] from their own session hit
  * the cliff silently.
  *
  * [[ensure]] / [[ensureSmallBuffer]] make the headroom a LIBRARY
  * guarantee: called at the top of every typed-buffer path, they raise
  * the session threshold when it is below the memory-budgeted floor for
  * the buffers in play, logging one loud warning with the actual byte
  * budget. The floor derives from [[TargetTaskBytes]] divided by the
  * LARGEST per-group buffer any graft guard has registered in the
  * session (ADVICE r19): the conf is session-wide, so a floor budgeted
  * for a ~112 B top-k heap (~280k groups) must not be inherited by a
  * later aggregate holding ~33 KB KMV heaps — that would allow multi-GB
  * per-task hash state before the count-based fallback fires. When a
  * larger buffer registers, a threshold THE GUARD ITSELF SET is
  * recomputed downward to the new budget; a threshold the session set
  * externally (e.g. the Bench harness's 4096) is never lowered.
  *
  * The recomputed floor is clamped to [[Floor]]..[[MaxFloor]].
  * [[Floor]]=4096 is the blanket minimum the sketch-profile guarantee
  * was pinned at (series × day grids): with the largest blanket buffers
  * (~33 KB KMV string heaps at k≈1024) that bounds a task's hash state
  * at ~140 MB — deliberate: well under executor aggregation memory at
  * the partition counts these paths run at, and far cheaper than
  * sorting the corpus. Past [[MaxFloor]] groups per task, group domains
  * stop being hash-aggregable in general and sort-based aggregation is
  * the right plan.
  *
  * Thread safety: all registry reads and conf writes happen under one
  * lock, so concurrent callers with different derived floors resolve to
  * the max (the old read-then-set race could end the session at the
  * lower value — ADVICE r19).
  *
  * Opt-out: set `spark.graft.ohaAutoRaise=false` to keep a
  * deliberately lower threshold (e.g. a memory-tight session that
  * prefers the sort); the guard then only logs the cliff warning and
  * leaves the conf untouched (it neither raises nor recomputes).
  * Sessions whose threshold already equals the budgeted target are
  * never touched and never logged.
  */
object OhaHeadroom {
  val Key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
  val OptOutKey = "spark.graft.ohaAutoRaise"
  val Floor = 4096

  /** Per-task in-memory group budget for the derived floor — the hash
    * map these aggregates hold before the count-based fallback would
    * fire. 64 MB is conservative next to what the fixed-width
    * HashAggregate path routinely holds (it spills under memory
    * pressure; ObjectHashAggregate's fallback is count-based only,
    * which is why the budget must be explicit). */
  val TargetTaskBytes: Long = 64L << 20

  /** Ceiling for any derived floor: past this, group domains stop being
    * hash-aggregable in general and sort-based aggregation is the right
    * plan — the guard removes silent cliffs at modest group counts, it
    * does not pretend unbounded domains fit a hash map. */
  val MaxFloor: Int = 1 << 19

  /** Estimated hash-map entry overhead on top of the aggregate buffer
    * itself (key row + map slot + object headers). */
  val EntryOverheadBytes: Long = 128L

  /** Buffer-size estimate registered by the blanket [[ensure]] — the
    * largest per-group buffer class its callers hold: bottomKOverlap's
    * KMV string heaps are ~33 KB at k≈1024, GK quantile summaries tens
    * of KB, dense HLL ≤4 KB at lgK≤12. The budget floor for this size
    * lands below [[Floor]], so [[Floor]] binds for blanket callers —
    * the documented 4096-group guarantee — while the registration caps
    * any tiny-buffer raise sharing the session. */
  val BlanketBufferBytes: Long = 33L << 10

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** What the guard knows about a session: the largest buffer any
    * entry point has registered, and the last value the guard itself
    * wrote to the conf (-1 = never) so external settings can be told
    * apart and never lowered. Guarded by OhaHeadroom's lock; weak keys
    * so stopped sessions are collectable. */
  private final class State {
    var largestBufferBytes: Long = 0L
    var lastSet: Int = -1
    var external: Int = 128
  }
  private val states =
    new java.util.WeakHashMap[SparkSession, State]()

  /** Test hook: forget everything registered for `spark` (the specs
    * share one session; registry state must not leak across tests). */
  private[graft] def resetSessionState(spark: SparkSession): Unit =
    synchronized { states.remove(spark); () }

  /** Raise the session's OHA sort-fallback threshold to at least
    * [[Floor]] if it is below (and `spark.graft.ohaAutoRaise` is not
    * "false"), registering the blanket [[BlanketBufferBytes]] buffer
    * class. Returns the threshold the session ends up with, so
    * callers/specs can pin the contract. Idempotent; call it from any
    * operator whose plan holds a typed-buffer aggregate with more than
    * ~128 groups. */
  def ensure(spark: SparkSession): Int =
    ensureBuffer(spark, BlanketBufferBytes)

  /** [[ensure]] for TINY per-group buffers (the bounded top-k heap
    * family: a [[graft.functions.TopKByScore]] buffer is ~16·k+64
    * bytes): derives the floor from the [[TargetTaskBytes]] memory
    * budget instead of the blanket [[Floor]], because the group domain
    * of a per-PROBE ranking aggregate scales with the probe set, not
    * with a profile's series×day grid. Without this, a default-conf
    * session running [[graft.sim.Ivf.ivfKnnAuto]] past ~128 probes per
    * task silently sort-falls-back — sorting the full scored CANDIDATE
    * stream, which is probes × nprobe × cell-size rows (measured in
    * BENCHLOG "r19 session 3": a 2M-vector IVF leg wrote 55 GB of sort
    * spill and died on disk; the same leg's aggregate state is ~100k
    * probes × ~240 B = 24 MB). The derived floor is budgeted against
    * the LARGEST buffer registered in the session (see the class doc),
    * clamped to
    * [[Floor]]..[[MaxFloor]]; an externally-set threshold is never
    * lowered, and the [[OptOutKey]] opt-out applies. */
  def ensureSmallBuffer(spark: SparkSession, bufferBytes: Long): Int = {
    require(bufferBytes > 0, s"bufferBytes must be positive: $bufferBytes")
    ensureBuffer(spark, bufferBytes)
  }

  private def ensureBuffer(spark: SparkSession, bufferBytes: Long): Int =
    synchronized {
      val st = {
        val got = states.get(spark)
        if (got != null) got
        else { val s = new State; states.put(spark, s); s }
      }
      st.largestBufferBytes = math.max(st.largestBufferBytes, bufferBytes)
      // Spark's default when unset is 128 (SQLConf
      // OBJECT_AGG_SORT_BASED_FALLBACK_THRESHOLD); read defensively in
      // case a future Spark changes it
      val current =
        try spark.conf.get(Key, "128").toInt
        catch { case _: NumberFormatException => 128 }
      // any value the guard did not write itself is user-controlled —
      // respect it as a floor the guard never goes below
      if (current != st.lastSet) st.external = current
      val perEntry = st.largestBufferBytes + EntryOverheadBytes
      val budgetFloor = math.min(MaxFloor.toLong,
        math.max(Floor.toLong, TargetTaskBytes / perEntry)).toInt
      val target = math.max(st.external, budgetFloor)
      val budgetMb = (target.toLong * perEntry) >> 20
      if (target == current) current
      else if (spark.conf.get(OptOutKey, "true") == "false") {
        if (target > current) log.warn(
          s"graft: $Key=$current is below the recommended $target and " +
          s"$OptOutKey=false — typed-buffer aggregates (hll_sketch_agg " +
          "/ percentile_approx / top-k heaps) will fall back to " +
          s"sort-based aggregation past $current groups per task, " +
          "sorting the task's whole input (measured 2.1x wall at 100M " +
          "rows). Raise the threshold or accept the sort.")
        current
      } else if (target > current) {
        log.warn(
          s"graft: raising $Key from $current to $target for this " +
          "session — typed-buffer aggregates silently fall back to " +
          "sort-based aggregation past the threshold, sorting the " +
          "task's whole input (measured 2.1x wall at 100M rows). The " +
          s"raised threshold bounds a task's hash state at ~$budgetMb " +
          s"MB ($target groups x ${perEntry} B for the largest " +
          s"registered buffer). Set $OptOutKey=false to keep the lower " +
          "threshold.")
        spark.conf.set(Key, target.toString)
        st.lastSet = target
        target
      } else {
        // target < current can only happen when the guard set `current`
        // itself (an external value feeds `st.external`, making
        // target >= current): a larger buffer registered after a
        // tiny-buffer raise, so recompute the guard's own raise down to
        // the new budget — holding `current` ~${perEntry}-byte buffers
        // would be multi-GB per task (ADVICE r19).
        log.warn(
          s"graft: recomputing $Key from $current down to $target — a " +
          s"larger aggregate buffer (${st.largestBufferBytes} B) " +
          "registered in this session, and the earlier raise was " +
          "budgeted for a smaller one; keeping it would allow ~" +
          s"${(current.toLong * perEntry) >> 20} MB of per-task hash " +
          s"state. The new threshold bounds a task at ~$budgetMb MB. " +
          s"Set $Key yourself (or $OptOutKey=false) to pin a different " +
          "trade-off.")
        spark.conf.set(Key, target.toString)
        st.lastSet = target
        target
      }
    }
}
