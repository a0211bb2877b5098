package graft
package gates

import org.apache.spark.sql.functions._
import Shared.{ev, gateModelDir, modelGlob, normText, t, tsUs}

/** Sketch gates: HLL++, GK quantiles, AMS F2, count-min, bottom-k,
  * priority sampling, and their error and merge contracts. */
object KGates extends Family {
  /** HLL++ cardinality profile over the event stream
    * (operators/Sketches.distinctProfile): per event_type, exact ndv of
    * user_id (the verifiable anchor, dropped at 100 TB) next to the
    * fixed-memory sketch estimate. Hash-exact since r17 via the
    * exported-estimate route (k08's mechanics applied to the PROFILE
    * shape): the production artifact — (series, ndv_hll, rsd), no
    * exact column — persists via ModelStore and is read back, the
    * exact anchors (n_rows, ndv_exact) are recomputed from raw events
    * in BOTH engines, and rel_err derives from the exported estimate
    * with the identical 6-dp rounding. DuckDB reads the same estimate
    * bytes, so every column hash-matches; the containment verdict
    * itself lives in k08 (batch) and the driver's k01_audit, both
    * still green on this frame. */
  gate("k01_sketch_distinct") { (s, dir) =>
    val prof = graft.operators.Sketches.distinctProfile(ev(s, dir),
        col("event_type"), col("user_id"), rsd = 0.02)
      .select("series", "n_rows", "ndv_hll", "rsd")
    val base = gateModelDir(dir, "k01")
    graft.sim.ModelStore.save(prof.coalesce(1), "hll_profile",
      s"$base/hll_profile")
    val m = s.read.parquet(s"$base/hll_profile")
      .select("series", "ndv_hll", "rsd")
    ev(s, dir)
      .groupBy(col("event_type").as("series"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("user_id")).as("ndv_exact"))
      .join(broadcast(m), "series")
      .select(col("series"), col("n_rows"), col("ndv_exact"),
        col("ndv_hll"),
        round(abs(col("ndv_hll") - col("ndv_exact")).cast("double") /
          col("ndv_exact").cast("double"), 6).as("rel_err"),
        col("rsd"))
      .orderBy("series")
  }(
      // k01 (r17 promotion): the HLL profile hash-exact via the
      // exported-estimate route — ndv_hll/rsd read from the gate's own
      // ModelStore export (the same bytes Spark re-read), the exact
      // anchors n_rows/ndv_exact recomputed from raw events, rel_err
      // re-derived with the gate's 6-dp rounding.
      s"""WITH m AS (SELECT series, ndv_hll, rsd
             FROM read_parquet(${modelGlob("k01", "hll_profile")})),
         x AS (SELECT event_type AS series,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_exact
           FROM events GROUP BY 1)
         SELECT x.series, x.n_rows, x.ndv_exact, m.ndv_hll,
           ROUND(CAST(ABS(m.ndv_hll - x.ndv_exact) AS DOUBLE)
             / CAST(x.ndv_exact AS DOUBLE), 6) AS rel_err,
           m.rsd
         FROM x JOIN m ON x.series = m.series
         ORDER BY x.series""")

  /** AMS F2 sketch next to its exact anchor
    * (operators/Sketches.amsF2): per event_type, the self-join-size
    * moment Σ count(user)² estimated from 60 one-pass lanes, each
    * signed by one bit of the row's single md5 draw.
    * Unlike the HLL/GK gates this sketch is md5-coin-derived, so the
    * FULL SQL oracle reproduces lanes, median, and error bit-for-bit. */
  gate("k03_ams_f2") { (s, dir) =>
    graft.operators.Sketches.amsF2(ev(s, dir), col("event_type"),
        col("user_id"))
      .orderBy("series")
  }(
      // k03: the one SKETCH with an exact oracle — AMS signs are md5-coin
      // derived (the p04/integerDraw convention), so DuckDB reproduces
      // every lane sum, the sorted-lane median, and the error bit-for-bit.
      """WITH drawn AS (SELECT event_type AS series,
             CAST(concat('0x', substr(md5('graft-ams' ||
               CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS draw
           FROM events),
         lanes AS (SELECT series, j, draw
           FROM drawn, unnest(generate_series(0, 59)) AS u(j)),
         s AS (SELECT series, j,
             CAST(SUM(1 - 2 * ((draw >> j) & 1)) AS BIGINT) AS s
               FROM lanes GROUP BY 1, 2),
         m AS (SELECT series,
             CAST((arr[30] + arr[31]) AS DOUBLE) / 2.0 AS f2_ams
           FROM (SELECT series, list(s * s ORDER BY s * s) AS arr
                 FROM s GROUP BY series)),
         x AS (SELECT series, CAST(SUM(n * n) AS BIGINT) AS f2_exact
               FROM (SELECT event_type AS series, user_id, COUNT(*) AS n
                     FROM events GROUP BY 1, 2)
               GROUP BY series)
         SELECT x.series, f2_exact, f2_ams,
           round(abs(f2_ams - CAST(f2_exact AS DOUBLE)) /
             CAST(f2_exact AS DOUBLE), 6) AS rel_err
         FROM x JOIN m USING (series) ORDER BY series""")

  /** Count-min point-query audit — the shared oracle of the k04 batch
    * gate and its st10 streaming twin (the stream-built cell table
    * equals the batch build bit-for-bit: counts are order-insensitive
    * and buckets md5-derived). */
  private[gates] lazy val cmsTopKSql: String =
    s"""WITH toks AS (SELECT unnest(string_split($normText, ' '))
           AS token FROM documents),
       cells AS (SELECT r,
           CAST(concat('0x', substr(md5('graft-cms' ||
             CAST(r AS VARCHAR) || '|' || token), 1, 15)) AS BIGINT)
             % 1024 AS b,
           CAST(COUNT(*) AS BIGINT) AS cell
         FROM toks, unnest(generate_series(0, 3)) AS u(r)
         GROUP BY 1, 2),
       top AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq_exact
               FROM toks GROUP BY token
               ORDER BY freq_exact DESC, token LIMIT 25),
       probes AS (SELECT token, freq_exact, r,
           CAST(concat('0x', substr(md5('graft-cms' ||
             CAST(r AS VARCHAR) || '|' || token), 1, 15)) AS BIGINT)
             % 1024 AS b
         FROM top, unnest(generate_series(0, 3)) AS u(r))
       SELECT p.token, p.freq_exact, MIN(c.cell) AS freq_cms,
         MIN(c.cell) - p.freq_exact AS overestimate
       FROM probes p JOIN cells c USING (r, b)
       GROUP BY p.token, p.freq_exact
       ORDER BY p.freq_exact DESC, p.token"""

  /** Count-min point-query audit over corpus tokens
    * (operators/Sketches.cmsTopK): t09's exact top-25 next to their CMS
    * estimates from a 4×1024-cell table — md5-derived buckets, so the
    * FULL SQL oracle rebuilds the sketch and every estimate exactly,
    * and the one-sided overestimate contract is data, not prose. */
  // k04: md5-derived CMS buckets — DuckDB rebuilds the whole
  // depth×width table and every point estimate exactly.
  gate("k04_cms_topk") { (s, dir) =>
    graft.operators.Sketches.cmsTopK(t(s, dir, "documents"), col("text"))
  }(cmsTopKSql)

  /** k05's sketch size, shared with the SQL oracle generator. */
  private val k05K = 128

  /** Pairwise cross-source BIGRAM-set overlap via KMV bottom-k
    * sketches (Sketches.bottomKOverlap): per source the 128 smallest
    * md5 hashes of its distinct word bigrams (~700 per source at gate
    * sf, so k_used saturates at k and the ESTIMATOR path is really
    * exercised — unigram vocab would fit the sketch and degenerate to
    * exact), per source pair the KMV jaccard estimate next to the
    * exact jaccard anchor (the element-level join a 100 TB run
    * drops). Deterministic given the hash, so — unlike the register
    * sketches k01/k02 — this carries a FULL SQL oracle that rebuilds
    * sketches, estimator and exact answer relationally. */
  /** k06's knobs, shared with the oracle SQL generator. */
  private val k06K = 64
  private val k06Seed = "graft-psamp"

  /** Priority sampling over the documents corpus weighted by n_chars
    * (Sketches.prioritySample — the weighted-subsample sketch family
    * member): k sample rows + the total row whose Σ max(w, τ) is the
    * Horvitz–Thompson estimate of the exact Σw emitted next to it.
    * Deterministic given md5, so FULL SQL oracle. */
  // k06: priority sampling re-derived — the same md5 60-bit coin,
  // the identical two-division priority tree, row_number ranking
  // (q DESC, id ASC — the TopKByScore tie order), tau as the (k+1)-th
  // priority (0 when the corpus fits the sample), and the total's est
  // folded in doc-id order.
  gate("k06_priority_sample") { (s, dir) =>
    graft.operators.Sketches.prioritySample(t(s, dir, "documents"),
        col("doc_id"), col("n_chars"), seed = k06Seed, k = k06K)
      .orderBy("kind", "doc_id")
  } {
      val k = k06K
      val seed = k06Seed
      s"""WITH base AS (SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS w
             FROM documents),
         sc AS (SELECT id, w,
             w / ((CAST(CAST(concat('0x', substr(md5('$seed' ||
               CAST(id AS VARCHAR)), 1, 15)) AS BIGINT) AS DOUBLE) + 1.0)
               / 1152921504606846976.0) AS q
           FROM base),
         r AS (SELECT id, w, q,
             row_number() OVER (ORDER BY q DESC, id ASC) AS rk FROM sc),
         tau AS (SELECT COALESCE(
             (SELECT q FROM r WHERE rk = ${k + 1}), 0.0) AS tau),
         samp AS (SELECT 'sample' AS kind, id AS doc_id, w, q,
             greatest(w, (SELECT tau FROM tau)) AS est
           FROM r WHERE rk <= $k),
         tot AS (SELECT 'total' AS kind, CAST(-1 AS BIGINT) AS doc_id,
             (SELECT CAST(CAST(SUM(CAST(w AS DECIMAL(18,2))) AS
                DECIMAL(18,2)) AS DOUBLE) FROM base) AS w,
             (SELECT tau FROM tau) AS q,
             (SELECT list_reduce(list(est ORDER BY doc_id),
                (x, y) -> x + y) FROM samp) AS est)
         SELECT kind, doc_id, w, q, est FROM
           (SELECT * FROM samp UNION ALL SELECT * FROM tot)
         ORDER BY kind, doc_id"""
  }

  // k05: KMV bottom-k sketches + estimator + exact anchor, all
  // rebuilt relationally (k shared via k05K). The rank
  // window runs over the per-source hash frame (bounded per group);
  // the estimator takes the k smallest of each pair's sketch UNION.
  gate("k05_bottomk_overlap") { (s, dir) =>
    // materialize the split ONCE as a column: an inline `split(text)`
    // would re-tokenize the whole document for every element_at inside
    // the transform lambda (O(words²) splits per doc — measured 3×
    // slower at sf0.1; CollapseProject keeps non-cheap aliases)
    val ws = col("ws")
    // codegen'd bigram pairing: zip the word array against itself
    // shifted by one (slice clamps, so no when-guard needed) — stays
    // inside whole-stage codegen where a transform() lambda would drop
    // to the interpreted HOF path
    val pairsZ = arrays_zip(
      slice(ws, lit(1), size(ws) - 1), slice(ws, lit(2), size(ws) - 1))
    graft.operators.Sketches.bottomKOverlap(
      t(s, dir, "documents")
        .select(col("source"), split(col("text"), " ").as("ws"))
        .select(col("source"), explode(pairsZ).as("z"))
        .select(col("source"),
          concat_ws(" ", col("z.0"), col("z.1")).as("bg")),
      col("source"), col("bg"), k = k05K)
    .orderBy("source_a", "source_b")
  } {
      val k = k05K
      s"""WITH toks AS (SELECT DISTINCT source, tok FROM (
             SELECT source, unnest(list_transform(
               range(len(string_split(text, ' ')) - 1), i ->
                 string_split(text, ' ')[i+1] || ' ' ||
                 string_split(text, ' ')[i+2])) AS tok
             FROM documents)),
         h AS (SELECT source, md5(tok) AS hv FROM toks),
         n AS (SELECT source, COUNT(*) AS nd FROM h GROUP BY source),
         bk AS (SELECT source, hv FROM (
             SELECT source, hv, row_number() OVER (
               PARTITION BY source ORDER BY hv) AS rn FROM h)
           WHERE rn <= $k),
         pairs AS (SELECT a.source AS sa, b.source AS sb
           FROM n a, n b WHERE a.source < b.source),
         pu AS (SELECT p.sa, p.sb, x.hv,
             bool_or(x.source = p.sa) AS ia,
             bool_or(x.source = p.sb) AS ib
           FROM pairs p JOIN bk x ON x.source IN (p.sa, p.sb)
           GROUP BY p.sa, p.sb, x.hv),
         pr AS (SELECT sa, sb, ia, ib,
             row_number() OVER (PARTITION BY sa, sb ORDER BY hv) AS rn,
             COUNT(*) OVER (PARTITION BY sa, sb) AS un
           FROM pu),
         est AS (SELECT sa, sb, LEAST($k, MAX(un)) AS k_used,
             CAST(SUM(CASE WHEN rn <= $k AND ia AND ib
               THEN 1 ELSE 0 END) AS BIGINT) AS num
           FROM pr GROUP BY sa, sb),
         ex AS (SELECT a.source AS sa, b.source AS sb, COUNT(*) AS ni
           FROM toks a JOIN toks b
             ON a.tok = b.tok AND a.source < b.source
           GROUP BY 1, 2)
         SELECT e.sa AS source_a, e.sb AS source_b,
           CAST(na.nd AS BIGINT) AS n_a, CAST(nb.nd AS BIGINT) AS n_b,
           round(CAST(COALESCE(x.ni, 0) AS DOUBLE) /
             (na.nd + nb.nd - COALESCE(x.ni, 0)), 6) AS exact_j,
           round(CAST(e.num AS DOUBLE) / e.k_used, 6) AS est_j,
           CAST(e.k_used AS BIGINT) AS k_used
         FROM est e
           JOIN n na ON na.source = e.sa
           JOIN n nb ON nb.source = e.sb
           LEFT JOIN ex x ON x.sa = e.sa AND x.sb = e.sb
         ORDER BY source_a, source_b""" }

  /** GK-summary quantile profile over event values
    * (operators/Sketches.quantileProfile): per event_type, p50/p90/p99
    * estimates at accuracy 10000. Hash-exact since r17 via the
    * exported-estimate route (k01's r17 promotion on the quantile
    * axis): the estimate frame persists via ModelStore and is read
    * back, n_rows is recomputed from raw events in BOTH engines
    * (count of non-null value — the one exactly-recomputable column),
    * and the estimates/accuracy come from the shared export so DuckDB
    * sees the same bytes. The rank-window CONTRACT on these estimates
    * stays in k07 and the driver's k02_audit, both green on this
    * frame. */
  gate("k02_sketch_quantiles") { (s, dir) =>
    val prof = graft.operators.Sketches.quantileProfile(ev(s, dir),
      col("event_type"), col("value"), accuracy = 10000)
    val base = gateModelDir(dir, "k02")
    graft.sim.ModelStore.save(prof.coalesce(1), "gk_quantiles",
      s"$base/gk_quantiles")
    val m = s.read.parquet(s"$base/gk_quantiles")
      .select("series", "p50", "p90", "p99", "accuracy")
    ev(s, dir)
      .groupBy(col("event_type").as("series"))
      .agg(count(col("value")).as("n_rows"))
      .join(broadcast(m), "series")
      .select("series", "n_rows", "p50", "p90", "p99", "accuracy")
      .orderBy("series")
  }(
      // k02 (r17 promotion): the GK quantile profile hash-exact via the
      // exported-estimate route — p50/p90/p99/accuracy from the gate's
      // export, n_rows (count of non-null value) recomputed from raw.
      s"""WITH m AS (SELECT series, p50, p90, p99, accuracy
             FROM read_parquet(${modelGlob("k02", "gk_quantiles")})),
         x AS (SELECT event_type AS series,
             CAST(COUNT(value) AS BIGINT) AS n_rows
           FROM events GROUP BY 1)
         SELECT x.series, x.n_rows, m.p50, m.p90, m.p99, m.accuracy
         FROM x JOIN m ON x.series = m.series
         ORDER BY x.series""")

  /** The GK rank-window contract as a FULL SQL gate — the k02 audit's
    * exported-model twin (the exported-model route applied to the
    * CONTRACT, not the estimate): k02's quantileProfile estimates are
    * persisted as a model frame, read back (so both engines see the
    * same bytes), and the gate recomputes each estimate's exact rank
    * window [count(<v)+1, count(<=v)] over the raw events in one scan
    * (tiny estimate frame broadcast, ×3 fan per row) plus the audit's
    * containment bound — target rank q·n ± (n/accuracy + 1) — in PURE
    * INTEGER arithmetic (everything scaled by 100·accuracy, no float
    * division). DuckDB re-derives the identical frame from the same
    * export, so `contained` isn't just audited true — every rank and
    * bound hash-matches. */
  gate("k07_quantile_contract") { (s, dir) =>
    val prof = graft.operators.Sketches.quantileProfile(ev(s, dir),
      col("event_type"), col("value"), accuracy = 10000)
    val base = gateModelDir(dir, "k07")
    graft.sim.ModelStore.save(prof.coalesce(1), "gk_quantiles",
      s"$base/gk_quantiles")
    val un = s.read.parquet(s"$base/gk_quantiles")
      .select(col("series"), col("n_rows"), col("accuracy"),
        explode(array(
          struct(lit(50L).as("q100"), col("p50").as("qv")),
          struct(lit(90L).as("q100"), col("p90").as("qv")),
          struct(lit(99L).as("q100"), col("p99").as("qv")))).as("z"))
      .select(col("series"), col("n_rows"), col("accuracy"),
        col("z.q100").as("q100"), col("z.qv").as("qv"))
    val rk = ev(s, dir)
      .join(broadcast(un), col("event_type") === col("series"))
      .groupBy(col("series"), col("q100"), col("qv"), col("n_rows"),
        col("accuracy"))
      .agg(count(col("value")).as("n"),
        sum(when(col("value") < col("qv"), 1L).otherwise(0L)).as("r_lt"),
        sum(when(col("value") <= col("qv"), 1L).otherwise(0L)).as("r_le"))
    rk.select(col("series"), col("q100"), col("n_rows"), col("n"),
        col("qv"), col("r_lt"), col("r_le"),
        when(col("n_rows") === col("n") &&
          col("r_lt") * 100L * col("accuracy") <=
            col("q100") * col("n") * col("accuracy") +
              lit(100L) * col("n") + lit(100L) * col("accuracy") &&
          col("r_le") * 100L * col("accuracy") >=
            col("q100") * col("n") * col("accuracy") -
              lit(100L) * col("n") - lit(100L) * col("accuracy"), 1)
          .otherwise(0).as("contained"))
      .orderBy("series", "q100")
  }(
      // k07: the GK rank-window CONTRACT verified in SQL from the gate's
      // exported estimate frame — ranks recomputed exactly over events,
      // containment in the audit's q·n ± (n/accuracy + 1) window as pure
      // integer arithmetic scaled by 100·accuracy (no float division).
      s"""WITH o AS (SELECT * FROM read_parquet(
             ${modelGlob("k07", "gk_quantiles")})),
         m AS (SELECT series, n_rows, accuracy,
                 CAST(50 AS BIGINT) AS q100, p50 AS qv FROM o
               UNION ALL
               SELECT series, n_rows, accuracy, 90, p90 FROM o
               UNION ALL
               SELECT series, n_rows, accuracy, 99, p99 FROM o),
         rk AS (SELECT m.series, m.q100, m.qv, m.n_rows, m.accuracy,
                  CAST(COUNT(e.value) AS BIGINT) AS n,
                  CAST(SUM(CASE WHEN e.value < m.qv THEN 1 ELSE 0 END)
                    AS BIGINT) AS r_lt,
                  CAST(SUM(CASE WHEN e.value <= m.qv THEN 1 ELSE 0 END)
                    AS BIGINT) AS r_le
                FROM m JOIN events e ON e.event_type = m.series
                GROUP BY 1, 2, 3, 4, 5)
         SELECT series, q100, n_rows, n, qv, r_lt, r_le,
           CAST(CASE WHEN n_rows = n
             AND r_lt * 100 * accuracy
                 <= q100 * n * accuracy + 100 * n + 100 * accuracy
             AND r_le * 100 * accuracy
                 >= q100 * n * accuracy - 100 * n - 100 * accuracy
             THEN 1 ELSE 0 END AS INT) AS contained
         FROM rk ORDER BY series, q100""")

  /** The HLL error contract as a FULL SQL gate — k07's route applied to
    * k01 (the last sketch family with an audit-only contract): the
    * distinctProfile estimates (WITHOUT the exact column — at 100 TB
    * the exact NDV is what the sketch replaces) are persisted and read
    * back, then exact NDV is recomputed from raw events and each
    * series' |est − exact| ≤ 5·rsd·exact containment is evaluated from
    * the SAME exported rsd knob (k01's knob-rides-the-output rule).
    * The exact-NDV aggregate exists here precisely BECAUSE this is the
    * contract-verification gate; production keeps only the sketch. */
  gate("k08_distinct_contract") { (s, dir) =>
    val prof = graft.operators.Sketches.distinctProfile(ev(s, dir),
        col("event_type"), col("user_id"), rsd = 0.02)
      .select("series", "n_rows", "ndv_hll", "rsd")
    val base = gateModelDir(dir, "k08")
    graft.sim.ModelStore.save(prof.coalesce(1), "hll_profile",
      s"$base/hll_profile")
    val m = s.read.parquet(s"$base/hll_profile")
    ev(s, dir)
      .groupBy(col("event_type").as("series"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("ndv_exact"))
      .join(broadcast(m), "series")
      .select(col("series"), col("n_rows"), col("n"), col("ndv_hll"),
        col("ndv_exact"), col("rsd"),
        when(col("n_rows") === col("n") &&
          abs(col("ndv_hll") - col("ndv_exact")).cast("double") <=
            lit(5.0) * col("rsd") * col("ndv_exact").cast("double"), 1)
          .otherwise(0).as("contained"))
      .orderBy("series")
  }(
      // k08: the HLL error contract from the exported estimate frame —
      // exact NDV recomputed over events, containment |est − exact| ≤
      // 5·rsd·exact evaluated with the SAME left-associated double
      // product as the gate (5 * rsd * exact) from the exported rsd.
      s"""WITH m AS (SELECT series, n_rows, ndv_hll, rsd
             FROM read_parquet(${modelGlob("k08", "hll_profile")})),
         x AS (SELECT event_type AS series,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_exact
           FROM events GROUP BY 1)
         SELECT x.series, m.n_rows, x.n, m.ndv_hll, x.ndv_exact, m.rsd,
           CAST(CASE WHEN m.n_rows = x.n
             AND CAST(ABS(m.ndv_hll - x.ndv_exact) AS DOUBLE)
                 <= 5 * m.rsd * CAST(x.ndv_exact AS DOUBLE)
             THEN 1 ELSE 0 END AS INT) AS contained
         FROM x JOIN m ON x.series = m.series
         ORDER BY x.series""")

  /** HLL mergeability contract ([[graft.operators.Sketches
    * .mergeProfile]]) — k08's distributed sibling: per-(series, day)
    * Datasketches-HLL sketches union-merged to the per-series answer,
    * proving the re-aggregation path a 100 TB warehouse actually runs
    * (daily partials folded to monthly without a base rescan). The
    * profile exports via ModelStore (the r13 exported-model route) and
    * the gate re-joins it against the exact per-series distinct + day
    * count, emitting the contract columns the FULL SQL oracle
    * re-derives: sub-count == day-count, and BOTH the merged and the
    * direct estimate within 5·rsd·exact — containment, not equality,
    * because the Datasketches union is measurably order-sensitive in
    * sparse mode (see mergeProfile's Scaladoc); the envelope is the
    * property that survives any merge order. */
  gate("k09_sketch_merge") { (s, dir) =>
    val prof = graft.operators.Sketches.mergeProfile(ev(s, dir),
      col("event_type"), date_format(col("ts"), "yyyy-MM-dd"),
      col("user_id"), lgK = 12)
    val base = gateModelDir(dir, "k09")
    graft.sim.ModelStore.save(prof.coalesce(1), "hll_merge_profile",
      s"$base/merge_profile")
    val m = graft.sim.ModelStore.load(s, "hll_merge_profile",
      s"$base/merge_profile")
    ev(s, dir)
      .groupBy(col("event_type").as("series"))
      .agg(countDistinct(col("user_id")).as("ndv_exact"),
        countDistinct(date_format(col("ts"), "yyyy-MM-dd")).as("n_days"))
      .join(broadcast(m), "series")
      .select(col("series"), col("n_days"), col("n_subs"),
        col("ndv_merged"), col("ndv_direct"), col("ndv_exact"),
        col("rsd"),
        when(col("n_subs") === col("n_days") &&
          abs(col("ndv_merged") - col("ndv_exact")).cast("double") <=
            lit(5.0) * col("rsd") * col("ndv_exact").cast("double") &&
          abs(col("ndv_direct") - col("ndv_exact")).cast("double") <=
            lit(5.0) * col("rsd") * col("ndv_exact").cast("double"), 1)
          .otherwise(0).as("contained"))
      .orderBy("series")
  }(
      // k09: the merge contract re-derived — the exported profile's
      // sub-count must equal the SQL day count, merged must equal direct
      // (mergeability), and the merged estimate must sit in the 5·rsd
      // window around the SQL-exact distinct.
      s"""WITH m AS (SELECT series, n_subs, ndv_merged, ndv_direct, rsd
             FROM read_parquet(${modelGlob("k09", "merge_profile")})),
         x AS (SELECT event_type AS series,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS ndv_exact,
             CAST(COUNT(DISTINCT strftime(date_trunc('day', $tsUs),
               '%Y-%m-%d')) AS BIGINT) AS n_days
           FROM events GROUP BY 1)
         SELECT x.series, x.n_days, m.n_subs, m.ndv_merged,
           m.ndv_direct, x.ndv_exact, m.rsd,
           CAST(CASE WHEN m.n_subs = x.n_days
             AND CAST(ABS(m.ndv_merged - x.ndv_exact) AS DOUBLE)
                 <= 5 * m.rsd * CAST(x.ndv_exact AS DOUBLE)
             AND CAST(ABS(m.ndv_direct - x.ndv_exact) AS DOUBLE)
                 <= 5 * m.rsd * CAST(x.ndv_exact AS DOUBLE)
             THEN 1 ELSE 0 END AS INT) AS contained
         FROM x JOIN m ON x.series = m.series
         ORDER BY x.series""")
}
