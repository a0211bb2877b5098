package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ingest analytics — the Spark Structured Streaming counterpart
  * of kcidb's message-queue ingest loop
  * (/root/reference/kcidb/__init__.py:493-531: load → match → notify) and
  * the monitor/subscription layer (/root/reference/kcidb/monitor/).
  *
  * The same transformation functions run in batch (for the DuckDB oracle)
  * and on a `readStream` source (exercised in the test suite with a memory
  * sink): windowed aggregation with watermarks for late data, and
  * `flatMapGroupsWithState` for first-occurrence detection (the "new failure
  * → notification" pattern).
  */
object Streams {

  /** Full-precision Timestamp ordering for every streaming pick-one
    * rule: Timestamp.compareTo includes nanos, while getTime truncates
    * to milliseconds — a getTime-based tie-break can pick a DIFFERENT
    * row than a µs-comparing batch oracle when two rows share a
    * millisecond (the r11 st02 finding, regression-spec'd). Implicit
    * here so every minBy over (ts, id) tuples in this file and the
    * monitor spool compares full timestamps. */
  private[graft] implicit val TsOrdering: Ordering[java.sql.Timestamp] =
    Ordering.comparatorToOrdering(
      java.util.Comparator.naturalOrder[java.sql.Timestamp]())

  /** Hourly windowed aggregate per event_type. Window emitted as epoch
    * seconds so batch/stream/oracle all agree. Works on batch and streaming
    * DataFrames alike. */
  def hourlyAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("window.start").cast("long").as("hour_sec"),
        col("event_type"), col("n"), col("total_value"))

  /** Streaming variant with a watermark (late events beyond 2h dropped). */
  def hourlyAggStream(events: DataFrame): DataFrame =
    hourlyAgg(events.withWatermark("ts", "2 hours"))

  /** Daily per-series distinct-user profile via the HLL++ SKETCH inside
    * the streaming state store (k01's sketch discipline on the streaming
    * axis): each (window, series) group's state is a fixed HLL register
    * array — never the raw user set, which for a hot day would grow with
    * traffic — so continuous cardinality monitoring holds KB-scale state
    * per window at any stream rate. The SAME function is the batch
    * anchor and the streaming query (st04's discipline): HLL merges by
    * per-register max, so chunked streaming accumulation equals the
    * one-shot batch estimate EXACTLY (spec-asserted), and the driver
    * audit checks the estimate against exact DuckDB ndv per day. */
  def dailyNdvProfile(events: DataFrame, rsd: Double = 0.02): DataFrame =
    events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
        approx_count_distinct(col("user_id"), rsd).as("ndv_hll"))
      .select(col("event_type").as("series"),
        date_format(col("window.start"), "yyyy-MM-dd").as("day"),
        col("n_rows"), col("ndv_hll"),
        // published knob rides the output (Sketches.distinctProfile's
        // rsd rule) so the driver audit's bound can't go stale
        lit(rsd).as("rsd"))

  /** Streaming variant with a watermark (late events beyond 1 day
    * dropped; windows keep accumulating until then). */
  def dailyNdvStream(events: DataFrame, rsd: Double = 0.02): DataFrame =
    dailyNdvProfile(events.withWatermark("ts", "1 day"), rsd)

  final case class EventRow(event_id: Long, ts: java.sql.Timestamp,
                            user_id: Long, event_type: String, value: Double)
  final case class FirstFailure(user_id: Long, event_id: Long, ts_sec: Long)

  /** Batch form of the monitor: first 'error' event per user. ONE
    * min-of-struct aggregate (map-side combined), no keyed window. */
  def firstFailureBatch(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "error")
      .groupBy(col("user_id"))
      .agg(min(struct(col("ts"), col("event_id"))).as("__f"))
      .select(col("user_id"), col("__f.event_id").as("event_id"),
        col("__f.ts").cast("long").as("ts_sec"))

  final case class DocFp(doc_id: Long, fp: String)

  /** Batch anchor of streaming incremental dedup: the first (lowest
    * doc_id) document per fingerprint — one min aggregate, no window. */
  def firstPerFingerprintBatch(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        graft.dedup.Dedup.fingerprint(col("text")).as("fp"))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("fp"))

  /** Streaming incremental dedup — the "admit only never-seen documents"
    * flow of a continuously-crawling pipeline (the stream form of the d07
    * batch delta-dedup): exactly one emitted document per fingerprint
    * across all micro-batches, via one boolean of state per fingerprint.
    * Matches [[firstPerFingerprintBatch]] when batches arrive in doc_id
    * order (the spec replays the corpus chunked and asserts parity). At
    * production scale pair the state with a TTL matching the dedup
    * retention window. */
  def firstPerFingerprintStream(docs: Dataset[DocFp]): Dataset[DocFp] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (fp: String, rows: Iterator[DocFp], state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else {
            state.update(true)
            Iterator.single(DocFp(rows.map(_.doc_id).min, fp))
          })
  }

  final case class DocFpTs(doc_id: Long, fp: String, ts: java.sql.Timestamp)

  /** TTL variant of [[firstPerFingerprintStream]] — the production-scale
    * form: state carries the ADMISSION event time, so total state is
    * bounded by the dedup retention window instead of growing for corpus
    * lifetime, and a fingerprint recurring after `ttlMs` of silence
    * re-admits (a crawl pipeline's retention semantics: content unseen
    * for the window counts as new again; cf. the reference spool's
    * age-based wipe, monitor/spool/__init__.py:233-250). Duplicates
    * INSIDE the window are suppressed and do not extend it.
    *
    * Expiry is enforced in the DATA path (admission-time comparison) —
    * correct however the runtime interleaves timeout callbacks — while
    * EventTimeTimeout + the caller's watermark physically REMOVE expired
    * state (the part NoTimeout cannot do). Caller must set a watermark
    * on `ts` before calling; admitted doc per (key, batch) is the
    * earliest (ts, doc_id) row. */
  def firstPerFingerprintStreamTtl(docs: Dataset[DocFpTs],
                                   ttlMs: Long): Dataset[DocFp] = {
    import docs.sparkSession.implicits._
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (fp: String, rows: Iterator[DocFpTs], state: GroupState[Long]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val first = rows.minBy(r => (r.ts, r.doc_id))
            if (state.exists && first.ts.getTime < state.get + ttlMs)
              Iterator.empty
            else {
              state.update(first.ts.getTime)
              // Cleanup timestamp can never sit at/behind the watermark.
              state.setTimeoutTimestamp(math.max(first.ts.getTime + ttlMs,
                state.getCurrentWatermarkMs + 1))
              Iterator.single(DocFp(first.doc_id, fp))
            }
          })
  }

  final case class Scd2St(idx: Long, eid: Long, fromSec: Long)
  final case class Scd2Out(user_id: Long, version: Long, event_id: Long,
                           valid_from_sec: Long, valid_to_sec: Long,
                           is_current: Long)

  /** q52's open-end marker on the epoch-seconds axis. */
  val scd2EndMarkerSec: Long = 9999999999L

  /** Streaming twin of the q52 SCD type-2 builder
    * ([[graft.operators.Scd.scd2]]): state is ONE open version per key
    * (3 longs — never a version buffer). Each arriving version CLOSES
    * the previous one immediately (valid_to = the newcomer's second,
    * exactly the batch `lead`); the final open version of an idle key
    * is flushed as `is_current = 1` by the WATERMARK via
    * EventTimeTimeout (`flushDelaySec` of event time past its
    * valid_from), after which the key's state is removed — a version
    * arriving after that flush starts a new chain (the documented
    * trade, [[sessionizeStream]]'s marker discipline without the
    * marker: SCD consumers re-key on the warehouse merge anyway).
    * Versions order by (floor-second, event_id) — the SAME sort the
    * batch twin and its SQL oracle use, so sub-second arrival jitter
    * can never reorder a chain between engines. Events strictly behind
    * the watermark drop on entry (ties kept). Callers must set a
    * watermark on `ts` before calling. */
  def scd2Stream(events: Dataset[SessionEvent],
                 flushDelaySec: Long = 86400L): Dataset[Scd2Out] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[SessionEvent],
         state: GroupState[Scd2St]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Scd2Out(uid, s.idx, s.eid, s.fromSec,
              scd2EndMarkerSec, 1L))
          } else {
            val wm = state.getCurrentWatermarkMs
            val sorted = rows.filter(_.ts.getTime >= wm).toArray
              .sortBy(r => (math.floorDiv(r.ts.getTime, 1000L),
                r.event_id))
            var out = List.empty[Scd2Out]
            var st = state.getOption
            for (r <- sorted) {
              val sec = math.floorDiv(r.ts.getTime, 1000L)
              st = st match {
                case Some(s) =>
                  out ::= Scd2Out(uid, s.idx, s.eid, s.fromSec, sec, 0L)
                  Some(Scd2St(s.idx + 1, r.event_id, sec))
                case None => Some(Scd2St(1L, r.event_id, sec))
              }
            }
            if (sorted.nonEmpty) for (s <- st) {
              state.update(s)
              state.setTimeoutTimestamp(math.max(
                (s.fromSec + flushDelaySec) * 1000,
                state.getCurrentWatermarkMs + 1))
            }
            out.reverseIterator
          })
  }

  final case class SessionEvent(user_id: Long, event_id: Long,
                                ts: java.sql.Timestamp)
  final case class SessionOut(user_id: Long, session_idx: Long,
                              n_events: Long, start_sec: Long,
                              end_sec: Long, duration_sec: Long)
  final case class SessionSt(idx: Long, n: Long, startSec: Long,
                             lastSec: Long)

  /** Streaming twin of the q37 batch sessionizer
    * ([[graft.operators.Sessionize]], same floor-second gap rule): state
    * is ONE open session per user (4 longs — bounded per key, never an
    * event buffer). A gap inside a batch closes and emits the previous
    * session immediately; an idle user's last session is closed by the
    * WATERMARK via EventTimeTimeout (so total state is bounded by the
    * active-user set, and a quiet stream still drains). Matches the batch
    * operator exactly when events arrive in event-time order — the
    * chunked-replay parity spec asserts set equality against the q37
    * gate. Callers must set a watermark on `ts` before calling.
    *
    * Late-data handling is deterministic FOR A FIXED watermark/batch
    * sequence: events strictly behind the current watermark are dropped
    * on entry (ties with the watermark are kept, so in-order replay
    * never loses a row), and a straggler can never split or renumber an
    * already-closed session. The watermark trajectory itself, though,
    * depends on how the stream is chunked into micro-batches — an event
    * near the boundary can be kept under one replay chunking and
    * dropped under another (StreamingSpec pins one chunking). What IS
    * chunking-invariant: no behind-watermark event ever mutates closed
    * state. After a timeout close, the per-user closed marker (n = 0,
    * preserving the cumulative session counter) is itself TTL'd after
    * `markerTtlSec` of event time, bounding state by the ACTIVE-user set
    * rather than the lifetime-distinct one; a user returning after the
    * marker TTL restarts numbering at 1 (the documented trade). */
  def sessionizeStream(events: Dataset[SessionEvent],
                       gapSec: Long,
                       markerTtlSec: Long = 30L * 86400): Dataset[SessionOut] = {
    require(markerTtlSec > 0, s"markerTtlSec must be positive: $markerTtlSec")
    import events.sparkSession.implicits._
    def close(uid: Long, s: SessionSt) =
      SessionOut(uid, s.idx, s.n, s.startSec, s.lastSec,
        s.lastSec - s.startSec)
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[SessionEvent],
         state: GroupState[SessionSt]) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.n == 0) {
              // Closed marker reached its TTL: drop it. A later event from
              // this user restarts numbering at 1.
              state.remove()
              Iterator.empty
            } else {
              // Close the idle session but KEEP the cumulative index
              // (n = 0 marks "no open session") — the batch operator
              // numbers a user's sessions over all time, so the counter
              // survives the close — then arm the marker's own TTL so a
              // departed user's state is eventually reclaimed.
              state.update(s.copy(n = 0))
              state.setTimeoutTimestamp(
                math.max((s.lastSec + gapSec) * 1000,
                  state.getCurrentWatermarkMs) + markerTtlSec * 1000)
              Iterator.single(close(uid, s))
            }
          } else {
            // Deterministic late-data rule: drop events strictly behind
            // the watermark (ties kept — a closed window's boundary event
            // replayed in order must not vanish).
            val wm = state.getCurrentWatermarkMs
            val sorted = rows.filter(_.ts.getTime >= wm)
              .toArray.sortBy(r => (r.ts.getTime, r.event_id))
            var out = List.empty[SessionOut]
            var st = state.getOption
            for (r <- sorted) {
              val sec = math.floorDiv(r.ts.getTime, 1000L)
              st = st match {
                case Some(s) if s.n > 0 && sec - s.lastSec <= gapSec =>
                  Some(s.copy(n = s.n + 1, lastSec = math.max(s.lastSec, sec)))
                case Some(s) if s.n > 0 =>
                  out ::= close(uid, s)
                  Some(SessionSt(s.idx + 1, 1, sec, sec))
                case Some(s) => // closed marker: continue the numbering
                  Some(SessionSt(s.idx + 1, 1, sec, sec))
                case None =>
                  Some(SessionSt(1, 1, sec, sec))
              }
            }
            // Only touch state when this batch actually contributed rows:
            // an all-late batch must not re-arm a closed marker's timeout
            // with a near-watermark timestamp (which would expire it
            // early and renumber the user).
            if (sorted.nonEmpty) for (s <- st) {
              state.update(s)
              // close when the watermark passes the gap after the last
              // event; never at/behind the current watermark
              state.setTimeoutTimestamp(math.max(
                (s.lastSec + gapSec + 1) * 1000,
                state.getCurrentWatermarkMs + 1))
            }
            out.reverseIterator
          })
  }

  /** STREAM-STREAM event-time interval join — the error→resolution
    * correlation of a monitoring pipeline ("which failures were followed
    * by a successful retry within the window"), and the one streaming
    * machinery class the other gates don't exercise: BOTH join sides are
    * unbounded streams, so Spark buffers each side in the state store
    * and the event-time bounds in the join condition (f.ts ∈ [e.ts,
    * e.ts + within]) plus the watermark are what let it evict state —
    * without them a stream-stream join's state grows forever.
    *
    * The SAME function is the batch anchor (pass `wmDelay = None` on a
    * batch frame) and the streaming query (st04's discipline): an inner
    * stream-stream join emits exactly the matched pairs, so a one-shot
    * replay equals the batch interval join row-for-row and st11's gate
    * carries a FULL SQL oracle. Join timestamps compare at full µs
    * precision; the emitted gap is floor-seconds (epochSec), matching
    * the oracle's date_diff. */
  def errorResolutionJoin(events: DataFrame, withinSec: Long,
                          fixType: String = "purchase",
                          wmDelay: Option[String] = None): DataFrame = {
    require(withinSec > 0, s"withinSec must be positive: $withinSec")
    def side(t: String, uidAs: String, idAs: String,
             tsAs: String): DataFrame = {
      val f = events.filter(col("event_type") === t)
        .select(col("user_id").as(uidAs), col("event_id").as(idAs),
          col("ts").as(tsAs))
      wmDelay.map(d => f.withWatermark(tsAs, d)).getOrElse(f)
    }
    val e = side("error", "user_id", "error_event_id", "e_ts")
    val fx = side(fixType, "f_user", "fix_event_id", "f_ts")
    e.join(fx, col("user_id") === col("f_user") &&
        col("f_ts") >= col("e_ts") &&
        col("f_ts") <= col("e_ts") + expr(s"INTERVAL $withinSec SECOND"))
      .select(col("user_id"), col("error_event_id"), col("fix_event_id"),
        (graft.util.epochSec(col("f_ts")) -
          graft.util.epochSec(col("e_ts"))).as("gap_sec"))
  }

  final case class RateEvent(event_type: String, ts: java.sql.Timestamp)
  final case class RateSt(open: Map[Long, Long], trail: Seq[Long])
  final case class RateOut(series: String, day: String, n: Long,
                           k_trail: Long, trail_mean: Option[Double],
                           z: Option[Double], anomaly: Int)

  /** STREAMING trailing-window rate anomaly — the continuous twin of
    * [[graft.operators.Series.rateAnomaly]] (q41): per series, per-day
    * event counts accumulate in state and each day is scored against the
    * previous <= 7 CLOSED days the moment the WATERMARK passes its end
    * (EventTimeTimeout — an idle series still drains), emitting the same
    * (n, k_trail, trail_mean, z, anomaly) row the batch operator derives,
    * with the identical stated double-op chain and HALF_UP 6-dp rounding.
    *
    * State per series is BOUNDED: the open day-count map (only days the
    * watermark hasn't passed — at most the watermark delay in days) plus
    * the <= 7-long trailing counts deque; never an event buffer. Late
    * rule (sessionizeStream's): events strictly behind the watermark are
    * dropped on entry, so a closed day's count can never mutate (a row
    * of a closed day is always strictly behind the watermark). Days
    * close in day order, so the trailing window reproduces the batch
    * ROWS-frame exactly on an in-order one-shot replay — st08's gate
    * shares q41's full SQL oracle. After every day closes, the trail
    * marker TTLs after `markerTtlSec` of event time (sessionizeStream's
    * marker discipline): a series resuming later restarts its baseline.
    * Callers must set a watermark on `ts` before calling. */
  def rateAnomalyStream(events: Dataset[RateEvent], trailing: Int = 7,
                        zThresh: Double = 2.0,
                        markerTtlSec: Long = 30L * 86400)
      : Dataset[RateOut] = {
    require(trailing >= 2, s"trailing window needs >= 2 days: $trailing")
    import events.sparkSession.implicits._
    val dayMs = 86400000L
    def round6(x: Double): Double =
      BigDecimal.valueOf(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    def score(series: String, day: Long, n: Long,
              trail: Seq[Long]): RateOut = {
      val k = trail.size.toLong
      val mean = if (k >= 1) Some(trail.sum.toDouble / k.toDouble) else None
      val z = mean.filter(_ => k >= 2).flatMap { m =>
        val s = trail.sum.toDouble
        val ss = trail.map(x => x * x).sum.toDouble
        val varD = (ss - s * m) / (k.toDouble - 1.0)
        if (varD > 0) Some(round6((n.toDouble - m) / math.sqrt(varD)))
        else None
      }
      RateOut(series, java.time.LocalDate.ofEpochDay(day).toString, n, k,
        mean.map(round6), z,
        if (z.exists(v => math.abs(v) > zThresh)) 1 else 0)
    }
    events.groupByKey(_.event_type)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (series: String, rows: Iterator[RateEvent],
         state: GroupState[RateSt]) => {
          val wm = state.getCurrentWatermarkMs
          val st0 = state.getOption.getOrElse(RateSt(Map.empty, Nil))
          // fold this batch's in-watermark rows into the open day counts
          // (ties with the watermark kept, sessionizeStream's rule)
          var open = st0.open
          if (!state.hasTimedOut)
            for (r <- rows if r.ts.getTime >= wm) {
              val d = math.floorDiv(r.ts.getTime, dayMs)
              open = open.updated(d, open.getOrElse(d, 0L) + 1L)
            }
          // close every day the watermark has passed, in day order,
          // scoring each against the trailing deque as it closes
          val (closable, stillOpen) =
            open.partition { case (d, _) => (d + 1) * dayMs <= wm }
          var trail = st0.trail
          val out = closable.toSeq.sortBy(_._1).map { case (d, n) =>
            val r = score(series, d, n, trail)
            trail = (trail :+ n).takeRight(trailing)
            r
          }
          if (stillOpen.nonEmpty) {
            state.update(RateSt(stillOpen, trail))
            state.setTimeoutTimestamp(math.max(
              (stillOpen.keys.min + 1) * dayMs, wm + 1))
          } else if (state.hasTimedOut && closable.isEmpty) {
            // marker TTL fired with nothing left to close: reclaim
            state.remove()
          } else {
            // keep the trailing baseline for a resuming series, bounded
            // by the marker TTL
            state.update(RateSt(Map.empty, trail))
            state.setTimeoutTimestamp(wm + markerTtlSec * 1000L)
          }
          out.iterator
        })
  }

  /** Streaming contamination detector — the stream-static join pattern of
    * a continuously-crawling pipeline: each arriving document emits the
    * positional n-gram spans it shares with a STATIC benchmark/train gram
    * index. Every stream-side op is stateless and row-local
    * ([[graft.dedup.Dedup.positionalGrams]]) and the membership test is a
    * stream-static LEFT SEMI equi-join (supported in append mode, no
    * watermark/state needed) — so the SAME function is the batch anchor
    * and the streaming query; the spec replays the corpus chunked and
    * asserts parity. The static side is broadcast-or-shuffled by size as
    * usual; at scale, pre-hash grams (cf. Dedup.contamination hashGrams)
    * to shrink the per-batch join keys. */
  def contaminationHits(evalDocs: DataFrame, trainGrams: DataFrame,
                        idCol: String, textCol: String, n: Int): DataFrame =
    graft.dedup.Dedup.positionalGrams(evalDocs, idCol, textCol, n)
      .join(trainGrams, Seq("g"), "left_semi")
      .select(col("id").as("doc_id"), col("p").cast("long").as("pos"),
        col("g"))

  /** The static train-side gram index for [[contaminationHits]]. */
  def trainGramIndex(train: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    graft.dedup.Dedup.positionalGrams(train, idCol, textCol, n)
      .select("g").distinct()

  final case class DocTok(doc_id: Long, source: String, n_tokens: Long)

  /** Streaming token-budget quota admission: docs stream in and each
    * SOURCE admits greedily until its running admitted-token total
    * reaches `quota` (admit while `used < quota`, then count the
    * admitted doc's tokens — the doc that crosses the line is still
    * taken, later ones are not). The streaming half of the p08/p09
    * recipe axis: budget-capped ingestion that stops paying for a
    * source the moment its allocation is filled, without ever
    * buffering documents.
    *
    * State is ONE Long per source (the filled token count) — the same
    * bounded-state discipline as [[firstPerFingerprintStream]]'s
    * boolean, and the reason this holds at any stream length. Within a
    * micro-batch, rows are processed in (doc_id) order so admission is
    * deterministic under any shuffle arrival order; across batches the
    * carried state makes a chunked doc_id-ordered replay equal the
    * one-shot replay (spec-asserted), and the one-shot replay equals
    * the batch window cumsum the DuckDB oracle runs. */
  def quotaAdmitStream(docs: Dataset[DocTok], quota: Long)
      : Dataset[DocTok] = {
    import docs.sparkSession.implicits._
    require(quota > 0, s"quota must be positive: $quota")
    docs.groupByKey(_.source)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (_: String, rows: Iterator[DocTok], state: GroupState[Long]) => {
          var used = state.getOption.getOrElse(0L)
          // materialize before state.update — flatMap laziness would
          // otherwise snapshot `used` pre-fill
          val admitted = rows.toVector.sortBy(_.doc_id).flatMap { r =>
            if (used < quota) { used += r.n_tokens; Vector(r) }
            else Vector.empty
          }
          state.update(used)
          admitted.iterator
        })
  }

  /** Streaming form: stateful first-occurrence detection. State is one
    * boolean per user (bounded; at scale this is why we don't buffer events
    * — kcidb's notification spool dedups the same way). */
  def firstFailureStream(events: Dataset[EventRow]): Dataset[FirstFailure] = {
    import events.sparkSession.implicits._
    events.filter(_.event_type == "error")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(
        OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (userId: Long, rows: Iterator[EventRow],
         state: GroupState[Boolean]) => {
          if (state.exists) Iterator.empty
          else {
            // Within a micro-batch, pick the earliest deterministically
            // ([[TsOrdering]]: full-precision compare, nanos included).
            val first = rows.minBy(r => (r.ts, r.event_id))
            state.update(true)
            Iterator.single(FirstFailure(
              userId, first.event_id, first.ts.getTime / 1000))
          }
        })
  }
}
