package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.dedup.Dedup
import graft.text.TextOps
import graft.streaming.Streams
import scala.jdk.CollectionConverters._
import Shared.{decSum, epoch1970, ev, gateModelDir, modelGlob, normText,
  runStreamOnce, sec, streamEvents, streamTable, t, tsUs, wordCountSql}
import QGates.{rateAnomalySql, sessionizeSql}
import EGates.{bootstrapCiSql, chi2DriftSql, e08HiRank, e08LoRank,
  e08Replicates, e08Seed, e08XxDraw}
import KGates.cmsTopKSql
import SGates.{annKsub, annM, ivfCellsSql, pqPrefixSql}

/** Streaming gates: real micro-batch executions, most of them the
  * streaming twin of a batch gate whose oracle they share. */
object StGates extends Family {
  /** st01 runs REAL micro-batch streaming execution inside the
    * driver-verified query: a file source over the events table (the
    * same ns→µs normalization as Tables.events), watermarked windowed
    * agg, one-shot AvailableNow trigger into a memory sink. Complete
    * output mode because a one-shot replay's watermark would hold back
    * the newest (still-open) windows in append mode — the batch-parity
    * contract wants every window; at production scale the same plan
    * runs append-mode into a file sink with windows emitted as the
    * watermark closes them (StreamingSpec exercises that path). */
  gate("st01_stream_window") { (s, dir) =>
    runStreamOnce(s, Streams.hourlyAggStream(streamEvents(s, dir)),
        org.apache.spark.sql.streaming.OutputMode.Complete)
      .orderBy("hour_sec", "event_type")
  }(
      s"""SELECT date_diff('second', $epoch1970,
           date_trunc('hour', $tsUs)) AS hour_sec,
         event_type, COUNT(*) AS n,
         ${decSum("value")} AS total_value
         FROM events GROUP BY 1, 2 ORDER BY hour_sec, event_type""")

  /** st09 runs the HLL++ sketch INSIDE the streaming state store
    * (Streams.dailyNdvStream): per (day, series) windowed group, state
    * is a fixed HLL register array — never the raw user set — so
    * continuous cardinality monitoring holds KB-scale state at any
    * stream rate. Complete mode for the one-shot replay (st01's
    * reasoning). Hash-exact since r17 via the exported-estimate route
    * (k01's r17 promotion on the streaming axis): the drained
    * per-(series, day) frame persists via ModelStore, the streamed
    * window count (n_rows) rides the export while a batch count (n)
    * is recomputed from raw events in BOTH engines — so the hash
    * additionally certifies stream-window == batch count parity —
    * and the HLL estimate/rsd come from the shared bytes. The error
    * CONTRACT on these estimates stays in st14 and the driver's
    * st09_audit, both green on this frame; the spec pins stream ==
    * batch estimate equality (HLL merges are order-insensitive). */
  gate("st09_sketch_stream") { (s, dir) =>
    val drained = runStreamOnce(s,
      Streams.dailyNdvStream(streamEvents(s, dir)),
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val base = gateModelDir(dir, "st09")
    graft.sim.ModelStore.save(drained.coalesce(1), "ndv_stream_profile",
      s"$base/ndv_stream_profile")
    val m = s.read.parquet(s"$base/ndv_stream_profile")
    ev(s, dir)
      .groupBy(col("event_type").as("series"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"))
      .join(broadcast(m), Seq("series", "day"))
      .select("series", "day", "n_rows", "n", "ndv_hll", "rsd")
      .orderBy("series", "day")
  }(
      // st09 (r17 promotion): the streamed daily-NDV frame hash-exact
      // via the exported-estimate route — the drained (series, day,
      // n_rows, ndv_hll, rsd) frame read from the gate's own ModelStore
      // export, the batch count n recomputed from raw events in both
      // engines so the hash additionally certifies stream-window ==
      // batch count parity (the error contract itself lives in st14).
      s"""WITH m AS (SELECT series, day, n_rows, ndv_hll, rsd
             FROM read_parquet(
               ${modelGlob("st09", "ndv_stream_profile")})),
         x AS (SELECT event_type AS series,
             strftime(date_trunc('day', $tsUs), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2)
         SELECT x.series, x.day, m.n_rows, x.n, m.ndv_hll, m.rsd
         FROM x JOIN m ON x.series = m.series AND x.day = m.day
         ORDER BY x.series, x.day""")

  /** The st09 STREAM's HLL error contract as a FULL SQL gate — k08's
    * exported-estimate route applied on the streaming axis (the last
    * audit-only family): the drained per-(series, day) estimate frame
    * persists via ModelStore, exact per-(series, day) NDV is recomputed
    * from raw events, and each window's |est − exact| ≤ 5·rsd·exact
    * containment is evaluated with identically-associated arithmetic
    * from the exported rsd knob. st09 itself stays rows-only for cause
    * (HLL register state has no SQL twin); THIS gate makes its error
    * contract hash-exact, so every sketch family now carries a SQL
    * contract gate (k07 for GK, k08 for batch HLL, st14 for stream
    * HLL). */
  gate("st14_ndv_contract") { (s, dir) =>
    val prof = runStreamOnce(s,
      Streams.dailyNdvStream(streamEvents(s, dir)),
      org.apache.spark.sql.streaming.OutputMode.Complete)
    val base = gateModelDir(dir, "st14")
    graft.sim.ModelStore.save(prof.coalesce(1), "ndv_stream_profile",
      s"$base/ndv_stream_profile")
    val m = s.read.parquet(s"$base/ndv_stream_profile")
    ev(s, dir)
      .groupBy(col("event_type").as("series"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("ndv_exact"))
      .join(broadcast(m), Seq("series", "day"))
      .select(col("series"), col("day"), col("n_rows"), col("n"),
        col("ndv_hll"), col("ndv_exact"), col("rsd"),
        when(col("n_rows") === col("n") &&
          abs(col("ndv_hll") - col("ndv_exact")).cast("double") <=
            lit(5.0) * col("rsd") * col("ndv_exact").cast("double"), 1)
          .otherwise(0).as("contained"))
      .orderBy("series", "day")
  }(
      // st14: the st09 stream's HLL contract from the exported drained
      // estimate frame — k08's route on the streaming axis: exact
      // per-(series, day) NDV recomputed over events, containment
      // |est − exact| ≤ 5·rsd·exact with the gate's left-associated
      // double product (5 * rsd * exact) from the exported rsd.
      s"""WITH m AS (SELECT series, day, n_rows, ndv_hll, rsd
             FROM read_parquet(
               ${modelGlob("st14", "ndv_stream_profile")})),
         x AS (SELECT event_type AS series,
             strftime(date_trunc('day', $tsUs), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_exact
           FROM events GROUP BY 1, 2)
         SELECT x.series, x.day, m.n_rows, x.n, m.ndv_hll, x.ndv_exact,
           m.rsd,
           CAST(CASE WHEN m.n_rows = x.n
             AND CAST(ABS(m.ndv_hll - x.ndv_exact) AS DOUBLE)
                 <= 5 * m.rsd * CAST(x.ndv_exact AS DOUBLE)
             THEN 1 ELSE 0 END AS INT) AS contained
         FROM x JOIN m ON x.series = m.series AND x.day = m.day
         ORDER BY x.series, x.day""")

  /** st10 builds k04's count-min table INSIDE the streaming state store
    * (Sketches.cmsCells on the streamed documents table): the state is
    * the fixed 4×1024 cell grid — never tokens — so continuous
    * token-frequency service state is constant at any stream rate.
    * Counting is order-insensitive, so the drained cell table equals
    * the batch build bit-for-bit and the composed point-query output
    * shares k04's FULL SQL oracle (st08's shared-oracle discipline on
    * the sketch axis — the tenth streaming-class gate). */
  // st10: the stream-built cell table equals the batch build
  // bit-for-bit (order-insensitive counts) — literally k04's oracle.
  gate("st10_cms_stream") { (s, dir) =>
    val cells = runStreamOnce(s,
      graft.operators.Sketches.cmsCells(
        streamTable(s, dir, "documents"), col("text")),
      org.apache.spark.sql.streaming.OutputMode.Complete)
    graft.operators.Sketches.cmsPointQuery(cells,
      t(s, dir, "documents"), col("text"))
  }(cmsTopKSql)

  /** st11 runs a STREAM-STREAM event-time interval join
    * (Streams.errorResolutionJoin): error events correlate with the
    * purchases that follow them within an hour, both sides unbounded
    * streams buffered in the state store and evicted by the event-time
    * join bounds + watermark — the fifth streaming machinery class
    * (after windowed agg, flatMapGroupsWithState, stream-static join,
    * and sketch-in-state), and like st08/st10 it carries a FULL SQL
    * oracle because the inner join's matched-pair output equals the
    * batch interval join row-for-row on a replay. */
  gate("st11_stream_join") { (s, dir) =>
    runStreamOnce(s,
        Streams.errorResolutionJoin(streamEvents(s, dir),
          withinSec = st11WithinSec, fixType = st11FixType,
          wmDelay = Some("35 days")),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("error_event_id", "fix_event_id")
  }(
      // st11: join bounds compare at full µs precision (CAST ts), the
      // emitted gap at floor-seconds — both exactly as the Spark side;
      // window and fix-type are the gate's shared constants.
      s"""WITH e AS (SELECT user_id, event_id AS error_event_id,
             $tsUs AS e_us, ${sec(tsUs)} AS e_sec
           FROM events WHERE event_type = 'error'),
         s AS (SELECT user_id, event_id AS fix_event_id,
             $tsUs AS f_us, ${sec(tsUs)} AS f_sec
           FROM events
           WHERE event_type = '${st11FixType}')
         SELECT e.user_id, error_event_id, fix_event_id,
           CAST(f_sec - e_sec AS BIGINT) AS gap_sec
         FROM e JOIN s ON e.user_id = s.user_id
           AND s.f_us >= e.e_us
           AND s.f_us <= e.e_us + INTERVAL ${
             st11WithinSec} SECOND
         ORDER BY error_event_id, fix_event_id""")

  /** st11 window/fix-type, shared with the oracle SQL generator so the
    * two sides cannot drift (q24's shared-constant discipline). */
  private val st11WithinSec = 3600L
  private val st11FixType = "purchase"

  /** st12 maintains e02's chi-squared drift cells INSIDE the streaming
    * state store (Eval.chi2Cells on the streamed documents table): the
    * state is the |keys|-row (o_a, o_b) counts frame — counting is
    * order-insensitive, so the drained state equals the batch counts
    * bit-for-bit and the composed statistic shares e02's FULL SQL
    * oracle (st10's shared-oracle discipline on the evaluation axis —
    * the continuous drift MONITOR: the alert a pipeline wants the
    * moment the source mix shifts, not at the next batch audit). */
  // st12: the SAME statistic with the cells maintained in streaming
  // state — counting is order-insensitive, so the drained state
  // equals the batch counts and the oracle is shared verbatim
  // (st10's discipline on the evaluation axis).
  gate("st12_drift_stream") { (s, dir) =>
    val cells = runStreamOnce(s,
      graft.operators.Eval.chi2Cells(
        streamTable(s, dir, "documents"),
        col("source"), col("lang") === "en"),
      org.apache.spark.sql.streaming.OutputMode.Complete)
    graft.operators.Eval.chi2FromCells(cells).orderBy("kind", "k")
  }(chi2DriftSql)

  /** st15 maintains e08's bootstrap replicate partials INSIDE the
    * streaming state store (Eval.bootstrapReps on the streamed
    * documents table): the state is the (replicates+1)-row integer
    * frame — including the b = −1 exact-totals sentinel — never
    * documents, so continuous uncertainty monitoring holds constant
    * state at any stream rate. Counting is order-insensitive, so the
    * drained complete-mode state equals the batch reps bit-for-bit
    * and the composed CI report shares e08's FULL SQL oracle verbatim
    * (st10/st12's shared-oracle discipline on the uncertainty axis —
    * the CI a pipeline wants live, not at the next batch audit). */
  // st15: the SAME bootstrap with the replicate partials maintained
  // in streaming state — integer counting is order-insensitive, so
  // the drained complete-mode state equals the batch reps frame
  // bit-for-bit and the oracle is shared verbatim (st10/st12's
  // shared-oracle discipline on the uncertainty axis).
  gate("st15_bootstrap_stream") { (s, dir) =>
    val reps = runStreamOnce(s,
      graft.operators.Eval.bootstrapReps(
        streamTable(s, dir, "documents"),
        col("doc_id"), TextOps.wordCount(col("text")),
        replicates = e08Replicates, seed = e08Seed,
        xxDraw = e08XxDraw),
      org.apache.spark.sql.streaming.OutputMode.Complete)
    graft.operators.Eval.bootstrapFromReps(reps, e08LoRank, e08HiRank)
      .orderBy("kind", "b")
  }(bootstrapCiSql)

  /** st02 runs REAL micro-batch streaming through the stateful
    * first-occurrence path (st03's `flatMapGroupsWithState` machinery
    * on the MONITOR side): file source over the events table (st01's
    * ns→µs normalization), one boolean of state per user
    * (Streams.firstFailureStream), AvailableNow → memory sink, append
    * mode. The oracle stays `firstFailureBatch`'s min-of-struct: exact
    * parity because the one-shot replay is a single micro-batch, so
    * every user group sees all its error rows at once and emits the
    * earliest (ts, event_id) — the chunked-replay parity spec covers
    * multi-batch arrival. */
  gate("st02_monitor") { (s, dir) =>
    import s.implicits._
    val events = streamEvents(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[Streams.EventRow]
    runStreamOnce(s, Streams.firstFailureStream(events).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("user_id")
  }(
      s"""SELECT user_id, event_id, ${sec(tsUs)} AS ts_sec
         FROM events WHERE event_type = 'error'
         QUALIFY row_number() OVER (PARTITION BY user_id
           ORDER BY $tsUs ASC, event_id ASC) = 1
         ORDER BY user_id""")

  /** st03 runs REAL micro-batch streaming through the STATEFUL path —
    * `flatMapGroupsWithState` admission state, the machinery st01's
    * stateless windowed agg does not exercise: file source over the
    * documents table → fingerprint → one-boolean-per-key admission
    * (Streams.firstPerFingerprintStream) → AvailableNow → memory sink.
    * Append mode (admissions are final the moment they are emitted).
    * The oracle stays `firstPerFingerprintBatch`'s min-doc_id-per-fp:
    * exact parity because a one-shot AvailableNow replay of the gate
    * table is a single micro-batch, so every key group sees all its
    * rows at once and admits the minimum (the chunked-replay parity
    * spec covers multi-batch arrival; at production scale first-seen
    * admission IS the contract, and the batch frame is the oracle only
    * at gate scale). */
  gate("st03_incr_dedup_stream") { (s, dir) =>
    import s.implicits._
    val docs = streamTable(s, dir, "documents")
      .select(col("doc_id"),
        graft.dedup.Dedup.fingerprint(col("text")).as("fp"))
      .as[Streams.DocFp]
    runStreamOnce(s, Streams.firstPerFingerprintStream(docs).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("doc_id")
  }(
      s"""SELECT MIN(doc_id) AS doc_id, fp FROM
         (SELECT doc_id, md5($normText) AS fp FROM documents)
         GROUP BY fp ORDER BY doc_id""")

  /** Batch anchor of the streaming contamination detector (the stream
    * variant is the SAME function over a readStream frame — parity spec
    * in StreamingSpec): eval-split docs emit the positional 3-gram spans
    * they share with the static train-gram index.
    *
    * st04 runs REAL micro-batch streaming through the STREAM-STATIC
    * JOIN path — the third machinery class after st01 (stateless
    * windowed agg) and st03 (stateful admission): the eval documents
    * arrive as a stream, the train gram index is a STATIC batch frame,
    * and `Streams.contaminationHits` — literally the same function as
    * the batch anchor — joins them left-semi per micro-batch (stateless,
    * append mode, no watermark). Row-identical to the batch plan by
    * construction, so the shared d09 oracle is exact. */
  gate("st04_contamination_stream") { (s, dir) =>
    val evalStream = streamTable(s, dir, "documents")
      .filter(col("doc_id") % 10 === 0)
    val trainIdx = Streams.trainGramIndex(
      t(s, dir, "documents").filter(col("doc_id") % 10 =!= 0),
      "doc_id", "text", n = 3)
    runStreamOnce(s,
        Streams.contaminationHits(evalStream, trainIdx,
          "doc_id", "text", n = 3),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("doc_id", "pos")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         pos AS (SELECT doc_id, i, array_to_string(arr[i:i+2], ' ') AS g
                 FROM arrs,
                   unnest(generate_series(1, greatest(len(arr) - 2, 1)))
                   AS u(i)),
         tg AS (SELECT DISTINCT g FROM pos WHERE doc_id % 10 <> 0)
         SELECT doc_id, CAST(i AS BIGINT) AS pos, g FROM pos
         WHERE doc_id % 10 = 0 AND g IN (SELECT g FROM tg)
         ORDER BY doc_id, pos""")

  /** st05 — CONTINUOUS ANN-index ingestion, the streaming composition
    * of s09's admission path and the production job that keeps an
    * IVFADC index current: models are fitted on the initial batch and
    * loaded via ModelStore (s09's fit-once lifecycle), then the
    * arriving embedding feed is admitted by
    * [[graft.sim.Pq.admitStateless]] — (id, cluster, codes) computed
    * in ONE row-local projection against broadcast one-row nested
    * model frames, so the streaming plan has NO shuffle, NO state
    * store, and NO watermark anywhere on the feed path (the
    * stream-static class reduced to a pure broadcast projection;
    * PqSpec pins admitStateless == encode⋈assign bit-for-bit, and the
    * stateless plan shape is spec-asserted). FULL SQL oracle via the
    * exported-model route: admission given the models is row-local
    * arithmetic, so DuckDB re-derives every (cluster, codes) from the
    * [[gateModelDir]] export + raw embeddings. The gate serializes the
    * PQ code array to a comma-joined string (string_agg on the oracle
    * side emits the identical bytes) — also what keeps the dump
    * pandas-sortable (the r11 st05 ERR). */
  gate("st05_index_ingest") { (s, dir) =>
    import graft.sim.{Ivf, ModelStore, Pq}
    val e = t(s, dir, "embeddings")
    val m = annM; val ksub = annKsub
    val fitBatch = e.filter(col("vec_id") % 2 === 0)
    val base = gateModelDir(dir, "st05")
    ModelStore.save(
      Ivf.fitCentroids(
        fitBatch.select(col("vec_id").as("id"), col("embedding").as("v")),
        c = 16, iters = 3),
      "ivf_centroids", s"$base/ivf_centroids")
    ModelStore.save(
      Pq.fitCodebooks(fitBatch, "vec_id", "embedding", m, ksub),
      "pq_codebooks", s"$base/pq_codebooks")
    val centroids = ModelStore.load(s, "ivf_centroids", s"$base/ivf_centroids")
    val codebooks = ModelStore.load(s, "pq_codebooks", s"$base/pq_codebooks")
    runStreamOnce(s,
        Pq.admitStateless(streamTable(s, dir, "embeddings"),
          "vec_id", "embedding", centroids, codebooks, m),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .withColumn("codes", concat_ws(",", col("codes")))
      .orderBy("id")
  }(
      // Streaming admission re-derived per row from the exported models:
      // cluster = cosine-nearest centroid, codes = the comma-joined
      // argmin-L2 code string (string_agg ORDER BY sub == concat_ws over
      // the sub-sorted array).
      s"""WITH ${pqPrefixSql("st05")},
         ${ivfCellsSql("st05")},
         cs AS (SELECT vec_id,
               string_agg(CAST(code AS VARCHAR), ',' ORDER BY sub)
                 AS codes
             FROM enc GROUP BY 1)
         SELECT cs.vec_id AS id, cell.cluster, cs.codes
         FROM cs JOIN cell USING (vec_id) ORDER BY id""")

  /** st07's per-source token quota, shared with the oracle SQL — sized
    * to bind hard at the gate corpus (~40% of a source's tokens), so
    * the admission cutoff is exercised in every source. */
  private val st07Quota = 600L

  /** Streaming token-budget quota admission
    * ([[graft.streaming.Streams.quotaAdmitStream]]): real micro-batch
    * streaming in verify — the documents table replays through the file
    * source and each source greedily admits docs in doc_id order until
    * its running token total fills the quota (one Long of state per
    * source). The one-shot replay equals the batch window-cumsum the
    * DuckDB oracle runs; chunked-replay parity is spec-asserted. */
  gate("st07_quota_admit") { (s, dir) =>
    import s.implicits._
    val docs = streamTable(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        TextOps.wordCount(col("text")).as("n_tokens"))
      .as[Streams.DocTok]
    runStreamOnce(s, Streams.quotaAdmitStream(docs, st07Quota).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .orderBy("source", "doc_id")
  }(
      // Quota admission replicated as a window cumsum: admit while the
      // PRIOR admitted-token total is under quota (the crossing doc is
      // still taken) — exactly the stream's greedy rule on a one-shot
      // doc_id-ordered replay.
      s"""WITH d AS (SELECT doc_id, source,
              CAST($wordCountSql AS BIGINT) AS n_tokens FROM documents),
         c AS (SELECT doc_id, source, n_tokens,
             COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY source
               ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS prior
           FROM d)
         SELECT doc_id, source, n_tokens FROM c
         WHERE prior < ${st07Quota}
         ORDER BY source, doc_id""")

  /** Sentinel-augmented events stream dir (the st06 mechanism, shared
    * with st08): symlinks every data file of the events table into a
    * dedicated digest-keyed scratch dir (its own `prefix`: st01/st02
    * share the plain events stream dir and must not see sentinels), then
    * writes two far-future one-row sentinel files — replayed last under
    * maxFilesPerTrigger=1, they advance the watermark past every real
    * day/gap so EventTimeTimeout fires deterministically. `mutate`
    * rewrites the sentinel row so the gate can filter it back out. */
  private def sentinelEventsDir(s: SparkSession, dir: String,
                                prefix: String,
                                mutate: (DataFrame, Int) => DataFrame)
      : (java.nio.file.Path, org.apache.spark.sql.types.StructType) = {
    val path = s"$dir/events.parquet"
    val raw = s.read.parquet(path)
    val tsType = raw.schema("ts").dataType
    val maxUs = graft.sources.Tables.normalizeTs(raw)
      .agg(max(unix_micros(col("ts")))).head.getLong(0)
    def farLit(k: Int): Column = {
      val us = maxUs + 37L * 86400 * 1000000L + k * 1000000L
      tsType match {
        case org.apache.spark.sql.types.LongType => lit(us * 1000L)
        case org.apache.spark.sql.types.TimestampNTZType =>
          lit(java.time.LocalDateTime.ofEpochSecond(us / 1000000L,
            ((us % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))
        case _ => lit(new java.sql.Timestamp(us / 1000L))
      }
    }
    val tablePath = java.nio.file.Paths.get(path).toAbsolutePath
    val pathKey = java.security.MessageDigest.getInstance("MD5")
      .digest(tablePath.toString.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    val srcDir = java.nio.file.Paths
      .get("target", s"${prefix}_events_$pathKey").toAbsolutePath
    java.nio.file.Files.createDirectories(srcDir)
    val dataFiles =
      if (java.nio.file.Files.isDirectory(tablePath))
        java.nio.file.Files.list(tablePath).iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p) &&
            !p.getFileName.toString.startsWith("_") &&
            !p.getFileName.toString.startsWith("."))
          .toSeq
      else Seq(tablePath)
    for (f <- dataFiles) {
      val link = srcDir.resolve(s"data_${f.getFileName}")
      java.nio.file.Files.deleteIfExists(link)
      try java.nio.file.Files.createSymbolicLink(link, f)
      catch { case _: java.nio.file.FileAlreadyExistsException => () }
    }
    for (k <- 0 to 1) {
      val tmp = java.nio.file.Files.createTempDirectory(srcDir, "sentinel_w")
      mutate(raw.limit(1), k)
        .withColumn("ts", farLit(k))
        .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val dest = srcDir.resolve(s"zz_sentinel_$k.parquet")
      java.nio.file.Files.move(part, dest,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // mtime orders the file source: data (testdata mtimes) < s0 < s1
      java.nio.file.Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() + k * 2000L))
      graft.util.deleteTree(tmp.toFile)
    }
    (srcDir, raw.schema)
  }

  /** st06 — STREAMING SESSIONIZATION as a driver-verified gate: the 4th
    * stateful machinery class (`flatMapGroupsWithState` with
    * EventTimeTimeout session state, [[graft.streaming.Streams
    * .sessionizeStream]]) promoted from spec-only to driver verify. The
    * file source replays the events table through the real micro-batch
    * engine; the oracle is q37's batch sessionization SQL — exact parity
    * because the replay is in event-time order (one file per sf dir, the
    * TESTDATA shape; a production feed is time-ordered by construction)
    * and the watermark delay (35 d > the table's 30 d span) means no
    * event is ever late, for ANY file chunking.
    *
    * Closing the last open session per user is the part a one-shot
    * replay cannot get from data alone (the watermark never passes an
    * open session's gap), so the gate plants two far-future SENTINEL
    * files (user −1, max ts + 37 d/+1 s) in a dedicated scratch stream
    * dir and caps the source at one file per micro-batch: sentinel 1's
    * batch advances the watermark past every real timeout, sentinel 2's
    * batch fires them — deterministic session close without relying on
    * no-data-batch semantics. The sentinel user is filtered from the
    * output (its own session is never closed). */
  // The streaming sessionizer's one-shot in-order replay (st06) closes
  // exactly the batch operator's sessions - same SQL oracle as q37.
  gate("st06_sessionize_stream") { (s, dir) =>
    import s.implicits._
    val (srcDir, schema) = sentinelEventsDir(s, dir, "stream_src6",
      (one, k) => one
        .withColumn("user_id", lit(-1L).cast(one.schema("user_id").dataType))
        .withColumn("event_id",
          lit(2000000000L + k).cast(one.schema("event_id").dataType)))
    val events = graft.sources.Tables.normalizeTs(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", "35 days")
      .as[Streams.SessionEvent]
    runStreamOnce(s,
        Streams.sessionizeStream(events, gapSec = 1800).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "session_idx")
  }(sessionizeSql)

  /** st13 runs q52's SCD type-2 builder as REAL micro-batch streaming
    * (Streams.scd2Stream): the events table replays through the file
    * source as a per-user version log, ONE open version per key lives
    * in the state store, every newcomer closes its predecessor
    * immediately (the batch `lead`), and the watermark flushes each
    * idle key's final version as `is_current = 1` (st06's sentinel
    * files fire the final closes). The drained stream equals the batch
    * window pair — the FULL SQL oracle IS the batch twin. */
  gate("st13_scd_stream") { (s, dir) =>
    import s.implicits._
    val (srcDir, schema) = sentinelEventsDir(s, dir, "stream_src13",
      (one, k) => one
        .withColumn("user_id", lit(-1L).cast(one.schema("user_id").dataType))
        .withColumn("event_id",
          lit(2100000000L + k).cast(one.schema("event_id").dataType)))
    val events = graft.sources.Tables.normalizeTs(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", "35 days")
      .as[Streams.SessionEvent]
    runStreamOnce(s, Streams.scd2Stream(events).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .filter(col("user_id") =!= -1L)
      .orderBy("user_id", "version")
  }(
      // st13: the drained SCD stream equals the batch window pair —
      // floor-second + event_id ordering on BOTH sides so sub-second
      // jitter can never reorder a chain between engines.
      s"""WITH e AS (SELECT user_id, event_id, ${sec(tsUs)} AS ts_sec
             FROM events),
         v AS (SELECT user_id,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS version,
             event_id, ts_sec AS valid_from_sec,
             COALESCE(LEAD(ts_sec) OVER w, 9999999999) AS valid_to_sec
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id))
         SELECT user_id, version, event_id, valid_from_sec,
           CAST(valid_to_sec AS BIGINT) AS valid_to_sec,
           CAST(CASE WHEN valid_to_sec = 9999999999 THEN 1 ELSE 0 END
             AS BIGINT) AS is_current
         FROM v ORDER BY user_id, version""")

  /** st08 runs q41's trailing-window rate anomaly as REAL micro-batch
    * streaming (Streams.rateAnomalyStream): the events table replays
    * through the file source, per-series day counts accumulate in
    * bounded state, and each day is scored against its trailing week the
    * moment the watermark passes it (EventTimeTimeout; st06's sentinel
    * files fire the final closes). The in-order one-shot replay closes
    * days exactly in day order, so the gate shares q41's FULL SQL
    * oracle — the eighth streaming-class gate, and the second (after
    * st06) whose stateful output is oracle-equal to its batch twin. */
  // st08: the streaming twin closes days in day order on the in-order
  // one-shot replay, so its output equals the batch operator's —
  // literally q41's oracle.
  gate("st08_anomaly_stream") { (s, dir) =>
    import s.implicits._
    val (srcDir, schema) = sentinelEventsDir(s, dir, "stream_src8",
      (one, _) => one.withColumn("event_type", lit("__wm__")))
    val events = graft.sources.Tables.normalizeTs(
        s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString))
      .select(col("event_type"), col("ts"))
      .withWatermark("ts", "35 days")
      .as[Streams.RateEvent]
    runStreamOnce(s, Streams.rateAnomalyStream(events).toDF(),
        org.apache.spark.sql.streaming.OutputMode.Append)
      .filter(col("series") =!= "__wm__")
      .orderBy("series", "day")
  }(rateAnomalySql)
}
