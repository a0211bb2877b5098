package graft
package gates

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextOps
import Shared.{normText, qualitySql, t, wordCountSql}

/** Packing and mixing gates: sequence packing, mixture sampling and
  * budgets, splits, shuffles and the end-to-end pipeline. */
object PGates extends Family {
  /** p02's mixture weights, shared with the oracle CASE chain
    * (mixtureWeightSql) and PackSpec: every fifth source dropped entirely, the
    * rest sampled at staggered rates — all sampling regimes (keep-all,
    * partial, drop-all) occur in the gate row. */
  private[graft] val p02Weights: Map[String, Double] =
    (0 until 20).map { i =>
      s"src$i" -> Seq(1.0, 0.7, 0.4, 0.15, 0.0)(i % 5)
    }.toMap
  private[graft] val p02Seed = "mix-v1"

  /** p08's integer mixture weights (percent), shared with the oracle
    * CASE chain — p02's regime spread (keep-all / partial / drop-all)
    * restated as integers so every allocation stays exact. */
  private val p08Weights: Map[String, Int] =
    (0 until 20).map { i => s"src$i" -> Seq(100, 70, 40, 15, 0)(i % 5) }
      .toMap

  /** p08's integer weight CASE chain (same map the Spark side bakes in). */
  private lazy val budgetWeightSql: String =
    p08Weights.toSeq.sorted
      .map { case (s, w) => s"WHEN '$s' THEN CAST($w AS BIGINT)" }
      .mkString("CASE source ", " ", " ELSE CAST(0 AS BIGINT) END")

  /** Token-budget mixture plan (Pack.tokenBudget): per-source available
    * vs desired tokens and the implied repeat factor under the target
    * mixture — one map-side-combined aggregate to |sources| keys plus a
    * 1-row totals zip; all allocation arithmetic integer, so the DuckDB
    * oracle reproduces the plan bit-for-bit. */
  gate("p08_token_budget") { (s, dir) =>
    graft.pack.Pack.tokenBudget(t(s, dir, "documents"), col("source"),
        TextOps.wordCount(col("text")), p08Weights)
      .orderBy("source")
  }(
      // Token-budget mixture plan: all allocation arithmetic integer
      // (// is floor division on non-negative BIGINTs, Spark's div), the
      // one double is a single division of two exact integers.
      s"""WITH per AS (SELECT source, COUNT(*) AS n_docs,
              CAST(SUM($wordCountSql) AS BIGINT) AS avail_tokens
            FROM documents GROUP BY source),
         tot AS (SELECT CAST(SUM(avail_tokens) AS BIGINT) AS budget
                 FROM per),
         plan AS (SELECT source, n_docs, avail_tokens,
             CAST(budget * ($budgetWeightSql) // ${
               p08Weights.values.sum} AS BIGINT)
               AS desired_tokens
           FROM per, tot)
         SELECT source, n_docs, avail_tokens, desired_tokens,
           CAST(desired_tokens // avail_tokens AS BIGINT) AS full_epochs,
           round(CAST(desired_tokens AS DOUBLE) / avail_tokens, 6)
             AS epochs
         FROM plan ORDER BY source""")

  /** p13's total training-token budget, shared with the oracle. */
  private val p13Budget = 1000000L

  /** Temperature mixture allocation (Pack.temperatureMix, alpha = 0.5
    * via correctly-rounded sqrt): per-source sqrt-of-size shares and
    * floor token budgets out of [[p13Budget]] — the up-weight-the-tail
    * recipe step before p08/p09's integer-weight plan. One map-side
    * aggregate + a 1-row totals zip; FULL SQL oracle runs the same
    * sqrt/fold/divide/floor chain in the same source-name order. */
  // p13: the same sqrt/fold/divide/floor chain — Z folded in
  // source-name order (list_reduce starts at the first element;
  // Spark starts at 0.0 + first, identical doubles), sqrt/divide
  // correctly rounded on both engines, so every emitted double is
  // bit-identical.
  gate("p13_temperature_mix") { (s, dir) =>
    graft.pack.Pack.temperatureMix(t(s, dir, "documents"), col("source"),
        TextOps.wordCount(col("text")), totalBudget = p13Budget)
      .orderBy("source")
  } {
      val budget = p13Budget
      s"""WITH s AS (SELECT source,
             CAST(SUM($wordCountSql) AS BIGINT) AS n_tokens
           FROM documents GROUP BY 1),
         w AS (SELECT source, n_tokens,
             sqrt(CAST(n_tokens AS DOUBLE)) AS weight FROM s),
         z AS (SELECT list_reduce(list(weight ORDER BY source),
             (a, b) -> a + b) AS z FROM w)
         SELECT source, n_tokens, weight, weight / z.z AS share,
           CAST(FLOOR($budget * weight / z.z) AS BIGINT)
             AS budget_tokens
         FROM w, z ORDER BY source""" }

  /** p09's coin seed, shared with the oracle SQL generator. */
  private val p09Seed = "graft-expand-r12"

  /** Epoch-expanded training mix (Pack.mixtureExpand): the p08 plan
    * materialized — full epochs per source plus a seeded fractional
    * copy, emitted at scan parallelism (plan broadcast, coin + sequence
    * explode row-local). Gate folds the expansion back to per-source
    * realized counts the oracle re-derives coin by coin. */
  gate("p09_mixture_expand") { (s, dir) =>
    graft.pack.Pack.mixtureExpand(t(s, dir, "documents"), col("source"),
        col("doc_id"), TextOps.wordCount(col("text")), p08Weights, p09Seed)
      .groupBy("source")
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_tokens")).as("realized_tokens"),
        max(col("epoch")).as("max_epoch"))
      .orderBy("source")
  }(
      // Epoch expansion re-derived coin by coin: the plan CTEs are p08's,
      // the fractional-copy coin is p02's md5-double convention, and the
      // acceptance bound divides two exact integers — both sides of the
      // comparison bit-identical across engines.
      s"""WITH d AS (SELECT doc_id, source,
              CAST($wordCountSql AS BIGINT) AS n_tokens FROM documents),
         per AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
                 FROM d GROUP BY source),
         tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS budget FROM per),
         plan AS (SELECT source, avail,
             CAST(budget * ($budgetWeightSql) // ${
               p08Weights.values.sum} AS BIGINT) AS desired
           FROM per, tot),
         ex AS (SELECT d.doc_id, d.source, d.n_tokens,
             CAST(desired // avail AS BIGINT) +
               CASE WHEN CAST(concat('0x', substr(md5('${
                 p09Seed}' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) / 1152921504606846976.0
                 < CAST(desired - (desired // avail) * avail AS DOUBLE)
                   / avail
               THEN 1 ELSE 0 END AS copies
           FROM d JOIN plan ON d.source = plan.source)
         SELECT source, CAST(SUM(copies) AS BIGINT) AS n_rows,
           CAST(SUM(n_tokens * copies) AS BIGINT) AS realized_tokens,
           CAST(MAX(copies) AS BIGINT) AS max_epoch
         FROM ex WHERE copies >= 1 GROUP BY source ORDER BY source""")

  private val p11Seed = "graft-order-r12"
  private val p11Shards = 8

  /** p12's shared knobs (oracle-interpolated): the quality floor and
    * the per-source token quota, sized against the corpus so the
    * filters BIND — quality drops docs at every sf, quota (800 <
    * every source's 1.1-1.5k sf0.01 token total) truncates every
    * source's tail at both gate scales. Exact dedup bites only at
    * sf0.1 (the corpus has 8 exact dups there, none at sf0.01) —
    * stage verified by the sf0.1 sweep, pass-through at the driver
    * sf. */
  private[graft] val p12MinQuality = 0.5
  private[graft] val p12Quota = 800L

  /** END-TO-END training-data pipeline composition — one declarative
    * plan chaining the four stages every §2 family contributes: exact
    * dedup (d01's keep-lowest-per-fingerprint), quality filtering
    * (t02's score, raw-double threshold — the chain is integer-derived
    * so bit-identical across engines, t07-proven), per-source greedy
    * token-quota admission (st07's cumsum-window rule, batch form),
    * and bucketed sequence packing (p01's window). Proves the stages
    * COMPOSE as DataFrames with no materialization between them: one
    * logical plan, Catalyst free to pipeline dedup's aggregate into
    * the quality scan. Per-doc output carries every stage's evidence
    * (survival implies dedup-kept ∧ quality ≥ floor ∧ prior < quota)
    * plus the packed coordinates. */
  // Greedy no-straddle packing replayed as a recursive CTE: the bin
  // state (index, fill) steps doc by doc within each bucket — all
  // integer, bit-identical to the Spark fold.
  // p12: the composed pipeline — every stage's SQL is the SAME
  // fragment its standalone oracle uses (md5-normText fingerprint,
  // qualitySql, wordCountSql, the st07 cumsum-admission window, the
  // p01 pack windows), chained as CTEs.
  gate("p12_pipeline_e2e") { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val keep = docs
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // upstream token count rides as "toks": packSequences reserves the
    // n_tokens output name (its require would reject a clashing input),
    // and the gate's emitted n_tokens is the pack stage's own cast
    val scored = docs.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("source"),
        TextOps.wordCount(col("text")).cast("long").as("toks"),
        TextOps.qualityScore(col("text")).as("quality"))
      .filter(col("quality") >= p12MinQuality)
    val w = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val admitted = scored
      .withColumn("prior", coalesce(sum(col("toks")).over(w), lit(0L)))
      .filter(col("prior") < p12Quota)
    graft.pack.Pack.packSequences(admitted.drop("prior"), "doc_id",
        col("toks"), pmod(col("doc_id"), lit(8)), seqLen = 256)
      .select(col("doc_id"), col("source"),
        round(col("quality"), 6).as("quality"),
        col("n_tokens"), col("bucket"), col("tok_offset"),
        col("seq_first"), col("seq_last"))
      .orderBy("doc_id")
  } {
      val minQ = p12MinQuality
      val quota = p12Quota
      s"""WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM
             (SELECT doc_id, md5($normText) AS fp FROM documents)
           GROUP BY fp),
         scored AS (SELECT d.doc_id, d.source,
             CAST($wordCountSql AS BIGINT) AS n_tokens,
             $qualitySql AS quality
           FROM documents d JOIN keep USING (doc_id)),
         qf AS (SELECT * FROM scored WHERE quality >= $minQ),
         adm AS (SELECT *, COALESCE(CAST(SUM(n_tokens) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS prior
             FROM qf),
         a AS (SELECT doc_id, source, quality, n_tokens,
               doc_id % 8 AS bucket
             FROM adm WHERE prior < $quota),
         pk AS (SELECT *, COALESCE(CAST(SUM(n_tokens) OVER (
               PARTITION BY bucket ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS tok_offset
             FROM a)
         SELECT doc_id, source, round(quality, 6) AS quality, n_tokens,
           CAST(bucket AS BIGINT) AS bucket, tok_offset,
           tok_offset // 256 AS seq_first,
           (tok_offset + n_tokens - 1) // 256 AS seq_last
         FROM pk ORDER BY doc_id"""
  }

  /** Materialized training order (the pipeline's LAST step, composing
    * p09 and p07): the epoch-expanded mix keyed by (doc, epoch) runs
    * through the seeded global shuffle-shard — every copy of every doc
    * gets its final (shard, position), i.e. exactly what the ordered
    * shard files the trainer reads contain. One expansion scan + one
    * shard-key exchange with in-partition sort (p07's shape); the full
    * SQL oracle chains p09's coin-exact expansion CTE into p07's
    * draw/rank logic over the composite 'id:epoch' key. */
  gate("p11_training_order") { (s, dir) =>
    val expanded = graft.pack.Pack.mixtureExpand(t(s, dir, "documents"),
        col("source"), col("doc_id"), TextOps.wordCount(col("text")),
        p08Weights, p09Seed)
      .select(concat_ws(":", col("id"), col("epoch")).as("key"))
    // (doc, epoch) re-derived by splitting the composite key — the
    // expansion lineage executes exactly once, no self-join
    graft.pack.Pack.shuffleShard(expanded, col("key"),
        nShards = p11Shards, seed = p11Seed)
      .select(
        split(col("id"), ":").getItem(0).cast("long").as("doc_id"),
        split(col("id"), ":").getItem(1).cast("long").as("epoch"),
        col("shard"), col("pos"))
      .orderBy("shard", "pos")
  }(
      // p11 = p09's coin-exact expansion chained into p07's draw/rank
      // over the composite 'id:epoch' key.
      s"""WITH d AS (SELECT doc_id, source,
              CAST($wordCountSql AS BIGINT) AS n_tokens FROM documents),
         per AS (SELECT source, CAST(SUM(n_tokens) AS BIGINT) AS avail
                 FROM d GROUP BY source),
         tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS budget FROM per),
         plan AS (SELECT source, avail,
             CAST(budget * ($budgetWeightSql) // ${
               p08Weights.values.sum} AS BIGINT) AS desired
           FROM per, tot),
         ex AS (SELECT d.doc_id,
             CAST(desired // avail AS BIGINT) +
               CASE WHEN CAST(concat('0x', substr(md5('${
                 p09Seed}' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) / 1152921504606846976.0
                 < CAST(desired - (desired // avail) * avail AS DOUBLE)
                   / avail
               THEN 1 ELSE 0 END AS copies
           FROM d JOIN plan ON d.source = plan.source),
         keyed AS (SELECT doc_id, CAST(ep AS BIGINT) AS epoch,
             CAST(doc_id AS VARCHAR) || ':' || CAST(ep AS VARCHAR) AS key
           FROM ex, unnest(generate_series(1, copies)) AS u(ep)
           WHERE copies >= 1),
         drawn AS (SELECT doc_id, epoch, key,
             CAST(concat('0x', substr(md5('${
               p11Seed}' || key), 1, 15)) AS BIGINT)
               AS draw
           FROM keyed)
         SELECT doc_id, epoch,
           CAST(draw % ${p11Shards} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY draw % ${p11Shards}
             ORDER BY draw, key) AS INT) AS pos
         FROM drawn ORDER BY shard, pos""")

  /** Boundary-respecting greedy packing (Pack.packNoStraddle): p01's
    * buckets and capacity, but docs never straddle a sequence — the
    * SFT packing mode. Per-bucket sequential fold after one bucket
    * shuffle; all-integer, so the DuckDB oracle replays the fold with
    * a recursive CTE bit-for-bit. */
  gate("p10_pack_greedy") { (s, dir) =>
    graft.pack.Pack.packNoStraddle(t(s, dir, "documents"), "doc_id",
        TextOps.wordCount(col("text")), pmod(col("doc_id"), lit(8)),
        capacity = 256L)
      .orderBy("doc_id")
  }(
      s"""WITH RECURSIVE
         d AS (SELECT doc_id, doc_id % 8 AS bucket,
              CAST($wordCountSql AS BIGINT) AS n FROM documents),
         r AS (SELECT doc_id, bucket, n,
             row_number() OVER (PARTITION BY bucket ORDER BY doc_id)
               AS rk
           FROM d),
         rec AS (
           SELECT bucket, rk, doc_id, n, CAST(1 AS BIGINT) AS bin,
             n AS used
           FROM r WHERE rk = 1
           UNION ALL
           SELECT r.bucket, r.rk, r.doc_id, r.n,
             CASE WHEN rec.used + r.n <= 256 THEN rec.bin
               ELSE rec.bin + 1 END,
             CASE WHEN rec.used + r.n <= 256 THEN rec.used + r.n
               ELSE r.n END
           FROM rec JOIN r ON r.bucket = rec.bucket AND r.rk = rec.rk + 1)
         SELECT doc_id, bucket, bin AS bin_idx,
           CAST(used - n AS BIGINT) AS "offset"
         FROM rec ORDER BY doc_id""")

  /** Concat-and-chunk sequence packing over 8 buckets at 256 tokens per
    * training sequence ([[graft.pack.Pack.packSequences]]). */
  gate("p01_pack_sequences") { (s, dir) =>
    // narrow projection BEFORE the pack windows: packSequences now
    // preserves input columns, and `text` riding the window sort would
    // widen the shuffle for nothing
    graft.pack.Pack.packSequences(
        t(s, dir, "documents").select(col("doc_id"),
          TextOps.wordCount(col("text")).as("__wc")),
        "doc_id", col("__wc"), pmod(col("doc_id"), lit(8)),
        seqLen = 256)
      .select("doc_id", "n_tokens", "bucket", "tok_offset",
        "seq_first", "seq_last")
      .orderBy("doc_id")
  }(
      s"""WITH base AS (SELECT doc_id, $wordCountSql AS n_tokens,
                doc_id % 8 AS bucket FROM documents),
         off AS (SELECT doc_id, n_tokens, bucket,
                COALESCE(CAST(SUM(n_tokens) OVER (PARTITION BY bucket
                  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING) AS BIGINT), 0) AS tok_offset
                FROM base)
         SELECT doc_id, n_tokens, bucket, tok_offset,
           CAST(floor(tok_offset / 256.0) AS BIGINT) AS seq_first,
           CAST(floor((tok_offset + n_tokens - 1) / 256.0) AS BIGINT)
             AS seq_last
         FROM off ORDER BY doc_id""")

  /** p02's per-source weight lookup as a CASE chain, generated from the
    * SAME map the Spark side uses (p02Weights). */
  private lazy val mixtureWeightSql: String =
    p02Weights.toSeq.sorted
      .map { case (s, w) => s"WHEN '$s' THEN CAST($w AS DOUBLE)" }
      .mkString("CASE source ", " ", " ELSE CAST(0.0 AS DOUBLE) END")

  /** Deterministic per-source mixture sampling, reported as per-source
    * kept counts ([[graft.pack.Pack.mixtureFlags]]). */
  gate("p02_mixture_sample") { (s, dir) =>
    graft.pack.Pack.mixtureFlags(t(s, dir, "documents"), col("source"),
        col("doc_id"), p02Weights, p02Seed)
      .groupBy("source")
      .agg(max(col("weight")).as("weight"),
        count(lit(1)).as("n_docs"),
        sum(col("kept")).cast("long").as("n_kept"))
      .orderBy("source")
  }(
      s"""WITH flags AS (SELECT source, $mixtureWeightSql AS weight,
                CAST(concat('0x', substr(md5(concat('${
                  p02Seed}', CAST(doc_id AS VARCHAR))),
                  1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
                FROM documents)
         SELECT source, weight, COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN u < weight THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept
         FROM flags GROUP BY source, weight ORDER BY source""")

  /** Token-length histogram (equi-width, 16 buckets over [0, 1024) plus
    * the overflow bucket) — the length profile a packing pipeline (p01)
    * reads to pick its sequence length. width_bucket keeps the whole
    * thing one codegen'd scan + one small-key aggregate. */
  gate("p03_length_histogram") { (s, dir) =>
    t(s, dir, "documents")
      .select(width_bucket(TextOps.wordCount(col("text")).cast("double"),
        lit(0.0), lit(1024.0), lit(16)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"))
      .select(col("bucket"), ((col("bucket") - 1) * 64).as("lo_tokens"),
        (col("bucket") * 64).as("hi_tokens"), col("n_docs"))
      .orderBy("bucket")
  }(
      s"""WITH b AS (SELECT CASE WHEN $wordCountSql >= 1024 THEN 17
               ELSE CAST($wordCountSql // 64 AS BIGINT) + 1 END AS bucket
             FROM documents)
         SELECT bucket, (bucket - 1) * 64 AS lo_tokens,
           bucket * 64 AS hi_tokens, COUNT(*) AS n_docs
         FROM b GROUP BY bucket ORDER BY bucket""")

  /** Fixed-length sliding context windows (Pack.chunkWindows, 64-token
    * chunks overlapping by 8): row-local explode, the oracle re-derives
    * every chunk boundary and md5 from the same token array. */
  gate("p05_chunk_windows") { (s, dir) =>
    graft.pack.Pack.chunkWindows(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 64, overlap = 8)
      .orderBy("doc_id", "chunk_idx")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         st AS (SELECT doc_id, arr, u.s AS s
                FROM arrs, unnest(generate_series(1,
                  greatest(len(arr) - 8, 1), 56)) AS u(s))
         SELECT doc_id,
           CAST((s - 1) // 56 AS BIGINT) AS chunk_idx,
           CAST(least(64, len(arr) - s + 1) AS BIGINT) AS n_tokens,
           md5(array_to_string(arr[s : s + 63], ' ')) AS chunk_md5
         FROM st ORDER BY doc_id, chunk_idx""")

  /** p06 seed and k, shared with the oracle SQL generator so the two
    * sides cannot drift. */
  private[graft] val p06Seed = "graft-sample-r9"
  private val p06K = 10

  /** Deterministic k-per-source sample (Pack.sampleKPerGroup): 10 docs
    * per source by lowest md5 coin — growth-stable eval-set selection
    * via the bounded top-k aggregate, never a row_number window; the
    * oracle reproduces every coin and rank in DuckDB. */
  gate("p06_group_sample") { (s, dir) =>
    graft.pack.Pack.sampleKPerGroup(t(s, dir, "documents"),
        col("source"), col("doc_id"), k = p06K, seed = p06Seed)
      .select(col("grp").as("source"), col("id").as("doc_id"), col("rank"))
      .orderBy("source", "doc_id")
  }(
      s"""WITH u AS (SELECT source, doc_id,
             CAST(concat('0x', substr(md5(concat('${
               p06Seed}', CAST(doc_id AS VARCHAR))),
               1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
           FROM documents),
         r AS (SELECT source, doc_id,
               row_number() OVER (PARTITION BY source
                                  ORDER BY u, doc_id) AS rk
               FROM u)
         SELECT source, doc_id, CAST(rk AS INT) AS rank
         FROM r WHERE rk <= ${p06K}
         ORDER BY source, doc_id""")

  /** p07 seed and shard count, shared with the oracle SQL generator. */
  private val p07Seed = "graft-shard-r12"
  private val p07Shards = 8

  /** Deterministic training-order shuffle (Pack.shuffleShard): every doc
    * gets a shard and an ordered position within it from one seeded md5
    * coin — the global-shuffle-then-shard step feeding a trainer's data
    * loader. The draw stays an exact integer so the DuckDB oracle
    * reproduces shard AND rank bit-for-bit. */
  gate("p07_shuffle_shard") { (s, dir) =>
    graft.pack.Pack.shuffleShard(t(s, dir, "documents"), col("doc_id"),
        nShards = p07Shards, seed = p07Seed)
      .select(col("id").as("doc_id"), col("shard"), col("pos"))
      .orderBy("doc_id")
  }(
      s"""WITH d AS (SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('${
               p07Seed}', CAST(doc_id AS VARCHAR))),
               1, 15)) AS BIGINT) AS draw
           FROM documents)
         SELECT doc_id,
           CAST(draw % ${p07Shards} AS INT) AS shard,
           CAST(row_number() OVER (
             PARTITION BY draw % ${p07Shards}
             ORDER BY draw, doc_id) AS INT) AS pos
         FROM d ORDER BY doc_id""")

  /** p04 seed, shared with the oracle SQL generator. */
  private val p04Seed = "graft-split-r8"

  /** Deterministic stratified train/val/test assignment (Pack.splitAssign:
    * one md5-derived coin per doc vs cumulative fractions) — per-doc
    * labels, stable under corpus growth, zero shuffles before the output
    * sort. Summarized per (source, split) so the gate result is compact
    * while the oracle still has to reproduce every coin. */
  gate("p04_stratified_split") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"),
        graft.pack.Pack.splitAssign(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1),
          p04Seed).as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
      .orderBy("source", "split")
  }(
      s"""WITH flags AS (SELECT doc_id, source,
             CAST(concat('0x', substr(md5(concat('${
               p04Seed}', CAST(doc_id AS VARCHAR))),
               1, 15)) AS BIGINT) / 1152921504606846976.0 AS u
           FROM documents),
         lab AS (SELECT doc_id, source,
               CASE WHEN u < 0.8 THEN 'train'
                    WHEN u < 0.9 THEN 'val'
                    ELSE 'test' END AS split
               FROM flags)
         SELECT source, split, COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
         FROM lab GROUP BY source, split ORDER BY source, split""")
}
