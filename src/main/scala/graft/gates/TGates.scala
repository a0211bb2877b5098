package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextOps
import Shared.{langScore, normText, qualitySql, t, wordCountSql}

/** Text gates: language id, quality signals and filters, tokens,
  * statistics and URL rules. */
object TGates extends Family {
  gate("t01_langid") { (s, dir) =>
    val d = t(s, dir, "documents")
    val scored = d.select(col("doc_id") +:
      TextOps.profiles.map { case (l, _) =>
        TextOps.langScore(col("text"), l).as(s"s_$l")
      }: _*)
    scored
      .withColumn("lang_pred", {
        val m = TextOps.profiles.map(p => col(s"s_${p._1}"))
          .reduce((a, b) => greatest(a, b))
        TextOps.profiles.foldRight(lit("und")) { case ((l, _), acc) =>
          when(col(s"s_$l") === m, lit(l)).otherwise(acc)
        }
      })
      .orderBy("doc_id")
  } {
      val scoreCols = graft.text.TextOps.profiles
        .map { case (l, _) => s"${langScore(l)} AS s_$l" }.mkString(",\n")
      val langs = graft.text.TextOps.profiles.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val caseExpr = langs.map(l => s"WHEN s_$l = $m THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH scored AS (SELECT doc_id, $scoreCols FROM documents)
         SELECT doc_id, s_en, s_de, s_es, s_fr, s_zh,
           $caseExpr AS lang_pred
         FROM scored ORDER BY doc_id"""
  }

  gate("t02_quality") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  }(
      s"""SELECT doc_id, $qualitySql AS quality
         FROM documents ORDER BY doc_id""")

  /** Per-source quality quota — the "keep the best N docs per domain"
    * curation step of a data-mixture pipeline. Ranking is the bounded
    * top-k aggregate (map-side ≤ N rows per source per partition), never
    * a window; the DuckDB oracle states the same semantics as
    * row_number() — the cross-engine check that the aggregate implements
    * exactly the windowed contract. */
  gate("t07_quality_quota") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("source"), col("doc_id"),
        TextOps.qualityScore(col("text")).as("quality"))
      .groupBy("source")
      .agg(graft.functions.TopK.topKByScore(
        col("quality"), col("doc_id"), 20).as("kept"))
      .select(col("source"), posexplode(col("kept")).as(Seq("pos", "kv")))
      .select(col("source"), col("kv.id").as("doc_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("kv.score").as("quality"))
      .orderBy("source", "rank")
  }(
      s"""WITH q AS (SELECT source, doc_id, $qualitySql AS quality
           FROM documents),
         r AS (SELECT source, doc_id, quality,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY quality DESC, doc_id ASC) AS INT) AS rank
               FROM q)
         SELECT source, doc_id, rank, quality FROM r WHERE rank <= 20
         ORDER BY source, rank""")

  gate("t03_tokens") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextOps.wordCount(col("text")).as("ws_tokens"),
        TextOps.bpeEstimate(col("text")).as("bpe_est"))
      .orderBy("doc_id")
  }(
      s"""SELECT doc_id, $wordCountSql AS ws_tokens,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS bpe_est
         FROM documents ORDER BY doc_id""")

  gate("t04_fingerprint") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  }(
      s"""SELECT doc_id, md5($normText) AS fp
         FROM documents ORDER BY doc_id""")

  /** Token-repetition quality filters (Gopher-style): the standard
    * drop-if-too-repetitive signals of a training-data pipeline. */
  gate("t06_repetition") { (s, dir) =>
    TextOps.repetitionMetrics(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         toks AS (SELECT doc_id, arr[i] AS tok, i AS ord
                  FROM arrs, unnest(generate_series(1, len(arr))) AS u(i)),
         tc AS (SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
         ta AS (SELECT doc_id, CAST(SUM(n) AS BIGINT) AS n_tokens,
                       COUNT(*) AS n_distinct, MAX(n) AS top_tok
                FROM tc GROUP BY 1),
         bg AS (SELECT doc_id, tok || ' ' ||
                       LEAD(tok) OVER (PARTITION BY doc_id ORDER BY ord) AS g
                FROM toks),
         bc AS (SELECT doc_id, g, COUNT(*) AS n FROM bg
                WHERE g IS NOT NULL GROUP BY 1, 2),
         ba AS (SELECT doc_id, MAX(n) AS top_bigram FROM bc GROUP BY 1)
         SELECT ta.doc_id, n_tokens,
           CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_frac,
           CAST(top_tok AS DOUBLE) / n_tokens AS top_tok_frac,
           CASE WHEN n_tokens < 2 THEN 0.0
                ELSE CAST(top_bigram AS DOUBLE) / (n_tokens - 1)
           END AS top_bigram_frac
         FROM ta LEFT JOIN ba USING (doc_id)
         ORDER BY doc_id""")

  /** Corpus-level statistics — the first report of any training-data run:
    * doc/token/vocab volume in one pass over the corpus plus one distinct
    * aggregate over exploded tokens (map-side combined). */
  gate("t05_corpus_stats") { (s, dir) =>
    val d = t(s, dir, "documents")
    val base = d.agg(
      count(lit(1)).as("n_docs"),
      sum(TextOps.wordCount(col("text"))).as("total_ws_tokens"),
      sum(TextOps.bpeEstimate(col("text"))).as("total_bpe_est"))
    val vocab = d
      .select(explode(Dedup.tokens(col("text"))).as("tok"))
      .agg(countDistinct(col("tok")).as("vocab_size"))
    // two single-row aggregates zipped — the 1×1 nested-loop join here is
    // the canonical scalar-combine plan, exempted in PlanSpec's audit
    base.crossJoin(vocab)
  }(
      s"""SELECT
         (SELECT COUNT(*) FROM documents) AS n_docs,
         (SELECT CAST(SUM($wordCountSql) AS BIGINT) FROM documents)
            AS total_ws_tokens,
         (SELECT CAST(SUM(CAST(ceil(length(text) / 4.0) AS BIGINT)) AS BIGINT)
            FROM documents) AS total_bpe_est,
         (SELECT COUNT(DISTINCT tok) FROM
            (SELECT unnest(string_split($normText, ' ')) AS tok
             FROM documents)) AS vocab_size""")

  /** Per-source quality-score distribution: exact interpolated
    * percentiles via the bounded-state CDF form (operators/Percentiles) —
    * never Spark's value-buffering `percentile` aggregate. The score is
    * quantized to 6 dp FIRST (the bounded domain that makes the counting
    * form exact); the oracle computes plain quantile_cont over the same
    * quantized values — cross-engine proof the distributed CDF equals the
    * textbook definition. */
  gate("t08_quality_percentiles") { (s, dir) =>
    graft.operators.Percentiles.groupPercentiles(
        t(s, dir, "documents").select(col("source"),
          round(TextOps.qualityScore(col("text")), 6).as("q")),
        "source", "q",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))
      // Round at 8dp, NOT 6: interpolated percentiles of 6dp-quantized
      // values at p ∈ multiples of 0.05 live exactly on the 5e-8 grid,
      // so 8dp rounds a grid POINT (engine-stable), while 6dp can land
      // on a half-BOUNDARY (x·1e6 = N.5 exactly) where a 1-ulp
      // cross-engine difference flips the last digit — hit twice at
      // sf0.1 (src3 p75, src7 p95).
      .select(col("source"), col("n_rows").as("n_docs"),
        round(col("p25"), 8).as("p25"), round(col("p50"), 8).as("p50"),
        round(col("p75"), 8).as("p75"), round(col("p95"), 8).as("p95"))
      .orderBy("source")
  }(
      // Output rounds at 8dp (see the t08 gate note): interpolations of
      // 6dp-quantized values at 0.05-grid fracs are EXACT on the 5e-8
      // grid, while 6dp rounding can sit on a half-boundary and flip on
      // 1-ulp engine differences.
      s"""WITH q AS (SELECT source, round($qualitySql, 6) AS q
                     FROM documents)
         SELECT source, COUNT(q) AS n_docs,
           round(quantile_cont(q, 0.25), 8) AS p25,
           round(quantile_cont(q, 0.50), 8) AS p50,
           round(quantile_cont(q, 0.75), 8) AS p75,
           round(quantile_cont(q, 0.95), 8) AS p95
         FROM q GROUP BY source ORDER BY source""")

  /** Corpus vocabulary heavy hitters: top-25 tokens by raw frequency with
    * a deterministic tiebreak — one explode + one map-side-combined count
    * + a global TakeOrderedAndProject (q21's shape: never a full sort). */
  gate("t09_top_tokens") { (s, dir) =>
    t(s, dir, "documents")
      .select(explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(25)
  }(
      s"""WITH toks AS (SELECT unnest(string_split($normText, ' ')) AS token
                        FROM documents)
         SELECT token, COUNT(*) AS freq FROM toks
         GROUP BY token ORDER BY freq DESC, token ASC LIMIT 25""")

  /** TF-IDF top terms per document — the per-doc keyword extraction of a
    * corpus indexing pipeline. tf and df are two map-side-combined counts
    * (df counts rows of the already-distinct (doc, token) tf frame); the
    * corpus size joins in as a 1-row scalar frame (t05's declared BNLJ
    * exemption class); ranking is the bounded STRING-id top-k aggregate
    * (functions/TopKByScoreStr) with binary-order tiebreaks, so the
    * DuckDB row_number() oracle reproduces rank order exactly. */
  gate("t10_tfidf_terms") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "token")
      .crossJoin(n)
      .select(col("doc_id"), col("token"),
        (col("tf") *
          (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("score"))
      .groupBy("doc_id")
      .agg(graft.functions.TopK.topKByScoreStr(
        col("score"), col("token"), 5).as("kept"))
      .select(col("doc_id"), posexplode(col("kept")).as(Seq("pos", "kv")))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("rank"),
        col("kv.id").as("token"), round(col("kv.score"), 6).as("score"))
      .orderBy("doc_id", "rank")
  }(
      s"""WITH toks AS (SELECT doc_id,
               unnest(string_split($normText, ' ')) AS token
             FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf
                FROM toks GROUP BY 1, 2),
         df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT COUNT(*) AS n_docs FROM documents),
         scored AS (SELECT doc_id, token,
               tf * (ln((n_docs + 1.0) / (df + 1.0)) + 1.0) AS score
               FROM tf JOIN df USING (token) CROSS JOIN n),
         r AS (SELECT doc_id, token, score,
               CAST(row_number() OVER (PARTITION BY doc_id
                 ORDER BY score DESC, token ASC) AS INT) AS rank
               FROM scored)
         SELECT doc_id, rank, token, round(score, 6) AS score
         FROM r WHERE rank <= 5 ORDER BY doc_id, rank""")

  /** Perplexity-style LM filtering signal (TextOps.lmScore): add-0.5
    * bigram model fit on the d09 train split (doc_id % 10 != 0), every
    * doc scored by average bigram negative log-likelihood. The whole
    * model is two count aggregates + a vocab scalar; scoring is a gram-
    * keyed left join — the CCNet quality-filter shape at corpus scale. */
  gate("t11_lm_score") { (s, dir) =>
    graft.text.TextOps.lmScore(t(s, dir, "documents"), "doc_id", "text",
        trainFilter = col("doc_id") % 10 =!= 0)
      .orderBy("doc_id")
  }(
      s"""WITH arrs AS (SELECT doc_id, string_split($normText, ' ') AS arr
                        FROM documents),
         trbi AS (SELECT arr[i] AS w1, arr[i + 1] AS w2
                  FROM arrs,
                    unnest(generate_series(1, len(arr) - 1)) AS u(i)
                  WHERE doc_id % 10 != 0 AND len(arr) >= 2),
         c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM trbi GROUP BY 1, 2),
         c1 AS (SELECT w1, COUNT(*) AS c1 FROM trbi GROUP BY 1),
         v AS (SELECT COUNT(DISTINCT t.w) AS v
               FROM (SELECT unnest(arr) AS w FROM arrs
                     WHERE doc_id % 10 != 0) t),
         evbi AS (SELECT doc_id, arr[i] AS w1, arr[i + 1] AS w2
                  FROM arrs,
                    unnest(generate_series(1, len(arr) - 1)) AS u(i)
                  WHERE len(arr) >= 2),
         nll AS (SELECT doc_id,
                   -ln((COALESCE(c2.c2, 0) + 0.5)
                     / (COALESCE(c1.c1, 0) + 0.5 * v.v)) AS nll
                 FROM evbi
                   LEFT JOIN c2 USING (w1, w2)
                   LEFT JOIN c1 USING (w1), v)
         SELECT doc_id, COUNT(*) AS n_bigrams,
           round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS avg_nll
         FROM nll GROUP BY doc_id ORDER BY doc_id""")

  /** PII scrubbing (TextOps.piiRedact): the corpus has no natural PII, so
    * the gate plants a deterministic email (doc_id % 3 == 0) and IPv4
    * (doc_id % 4 == 0) per doc — makeWav's synthesize-then-parse recipe
    * on text — then counts and redacts; the oracle recomputes the
    * augmentation AND the redaction, and clean_md5 catches any span
    * divergence between the two regex engines. */
  gate("t12_pii_redact") { (s, dir) =>
    val aug = concat(col("text"),
      when(col("doc_id") % 3 === 0,
        concat(lit(" contact user"), col("doc_id"), lit("@mail"),
          col("doc_id") % 7, lit(".com"))).otherwise(lit("")),
      when(col("doc_id") % 4 === 0,
        concat(lit(" from "), col("doc_id") % 256, lit("."),
          (col("doc_id") * 7) % 256, lit("."),
          (col("doc_id") * 13) % 256, lit("."),
          (col("doc_id") * 29) % 256)).otherwise(lit("")))
    graft.text.TextOps.piiRedact(
        t(s, dir, "documents").select(col("doc_id"), aug.as("text")),
        "doc_id", "text")
      .orderBy("doc_id")
  }(
      s"""WITH aug AS (SELECT doc_id, text ||
           CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
             '@mail' || (doc_id % 7) || '.com' ELSE '' END ||
           CASE WHEN doc_id % 4 = 0 THEN ' from ' || (doc_id % 256) ||
             '.' || ((doc_id * 7) % 256) || '.' || ((doc_id * 13) % 256) ||
             '.' || ((doc_id * 29) % 256) ELSE '' END AS t
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(t,
             '${graft.text.TextOps.EmailPattern}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t,
             '${graft.text.TextOps.Ipv4Pattern}')) AS BIGINT) AS n_ips,
           md5(regexp_replace(regexp_replace(t,
             '${graft.text.TextOps.EmailPattern}', '<EMAIL>', 'g'),
             '${graft.text.TextOps.Ipv4Pattern}', '<IP>', 'g'))
             AS clean_md5
         FROM aug ORDER BY doc_id""")

  /** Token-entropy quality signal (TextOps.tokenEntropy): Shannon entropy
    * of each doc's token frequency distribution plus its normalized form —
    * the information-density filter axis (template boilerplate scores low,
    * uniform noise near 1.0) that t02's surface ratios and t06's
    * repetition fractions don't measure. */
  gate("t13_entropy") { (s, dir) =>
    graft.text.TextOps.tokenEntropy(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }(
      s"""WITH toks AS (SELECT doc_id,
               unnest(string_split($normText, ' ')) AS token
             FROM documents),
         tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
         agg AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
                   COUNT(*) AS n_types,
                   CAST(SUM(CAST(tf AS DOUBLE) * log2(CAST(tf AS DOUBLE))) AS DOUBLE) AS stl
                 FROM tf GROUP BY 1)
         SELECT doc_id, n_tokens, n_types,
           round(log2(CAST(n_tokens AS DOUBLE)) - stl / n_tokens, 6)
             AS entropy,
           round(CASE WHEN n_types > 1
             THEN (log2(CAST(n_tokens AS DOUBLE)) - stl / n_tokens)
                  / log2(CAST(n_types AS DOUBLE))
             ELSE 0.0 END, 6) AS entropy_norm
         FROM agg ORDER BY doc_id""")

  private val t14Buckets = 1024
  private val t14Target = "src0"

  /** DSIR importance weights (TextOps.dsirWeights): how much each raw-pool
    * doc looks like the `src0` target domain, via hashed-bigram
    * distribution log ratios — the data-SELECTION axis (which docs to
    * train on) next to t02/t06/t13's intrinsic quality axes. The fitted
    * model is a B-row table independent of corpus size (the reason this
    * is the 100 TB selection tool), broadcast on the apply pass. */
  gate("t14_dsir_weights") { (s, dir) =>
    graft.text.TextOps.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        col("source") === t14Target, buckets = t14Buckets)
      .orderBy("doc_id")
  }(
      // DSIR hashed-bigram importance weights: the oracle re-derives the
      // bucket of every bigram (same md5-hex-integer convention as p06/p07)
      // and both smoothed distributions, then the per-doc log-ratio sum.
      s"""WITH tk AS (SELECT doc_id,
               source = '${t14Target}' AS is_t,
               string_split($normText, ' ') AS t
             FROM documents),
         bg AS (SELECT doc_id, is_t,
               CAST(concat('0x', substr(md5(t[i] || ' ' || t[i + 1]),
                 1, 15)) AS BIGINT) % ${t14Buckets} AS b
             FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
             WHERE len(t) >= 2),
         cnt AS (SELECT b,
               CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS ct,
               CAST(SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS BIGINT) AS cr
             FROM bg GROUP BY 1),
         tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS nt,
                        CAST(SUM(cr) AS BIGINT) AS nr FROM cnt),
         w AS (SELECT b,
               ln(((ct + 0.5) / (nt + 0.5 * ${t14Buckets}))
                / ((cr + 0.5) / (nr + 0.5 * ${t14Buckets})))
                 AS w
             FROM cnt, tot),
         sc AS (SELECT doc_id, COUNT(*) AS n_feats,
               round(CAST(SUM(w) AS DOUBLE), 6) AS logw
             FROM bg JOIN w USING (b) WHERE NOT is_t GROUP BY 1)
         SELECT d.doc_id,
           CAST(coalesce(sc.n_feats, 0) AS BIGINT) AS n_feats,
           coalesce(sc.logw, 0.0) AS logw
         FROM documents d LEFT JOIN sc USING (doc_id)
         WHERE d.source != '${t14Target}'
         ORDER BY doc_id""")

  /** First-round BPE merge candidates (TextOps.bpeMergeCandidates):
    * tokenizer-training's inner counting step — corpus collapses to the
    * word-frequency table first, pairs explode off the vocab, top-20 by
    * (count, pair); full SQL oracle re-counts every weighted pair. */
  gate("t15_bpe_merges") { (s, dir) =>
    TextOps.bpeMergeCandidates(t(s, dir, "documents"), "text", k = 20)
  }(
      // BPE pair counts re-derived off the word-frequency table exactly
      // as Spark builds them (overlapping adjacent pairs, weighted by
      // word frequency); ties break on pair ASC in both engines.
      s"""WITH toks AS (SELECT unnest(string_split($normText, ' ')) AS w
                        FROM documents),
         words AS (SELECT w, COUNT(*) AS f FROM toks
                   WHERE length(w) >= 2 GROUP BY w),
         pairs AS (SELECT substr(w, i, 2) AS pair, f
                   FROM words,
                     unnest(generate_series(1, length(w) - 1)) AS u(i))
         SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
         FROM pairs GROUP BY pair
         ORDER BY cnt DESC, pair ASC LIMIT 20""")

  /** Language-ID quality audit (s12's "measure, don't guess" theme on
    * the text axis): t01's n-gram detector scored against the corpus'
    * ground-truth lang column as a confusion matrix — one map-side-
    * combined aggregate to ≤|langs|² keys; full SQL oracle re-derives
    * every prediction. */
  // The t01 scoring CTE grouped against the ground-truth lang column;
  // tie order (first-listed profile wins) is identical in the CASE.
  gate("t16_langid_eval") { (s, dir) =>
    t(s, dir, "documents")
      .select(col("lang").as("lang_true"),
        TextOps.langId(col("text")).as("lang_pred"))
      .groupBy("lang_true", "lang_pred")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang_true", "lang_pred")
  } {
      val scoreCols = graft.text.TextOps.profiles
        .map { case (l, _) => s"${langScore(l)} AS s_$l" }.mkString(",\n")
      val langs = graft.text.TextOps.profiles.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val caseExpr = langs.map(l => s"WHEN s_$l = $m THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH scored AS (SELECT lang AS lang_true, $scoreCols
              FROM documents)
         SELECT lang_true, $caseExpr AS lang_pred, COUNT(*) AS n
         FROM scored GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  private val t18Merges = 20

  /** BPE tokenizer APPLY (TextOps.bpeEncode): t15's top-20 merge
    * candidates become the merge table (fit once — the tokenizer-axis
    * s09 lifecycle) and every word encodes by repeatedly merging its
    * lowest-rank present pair. The merge table is a bounded 20-row
    * driver collect (Bloom's sketch-head class); encoding runs on the
    * corpus-size-independent VOCAB frame only. Full SQL oracle: the t15
    * counting CTE ranks the same table, a recursive CTE replays the
    * stated merge-step rule state-for-state, and per-doc totals re-join. */
  gate("t18_bpe_encode") { (s, dir) =>
    val docs = t(s, dir, "documents")
    val merges = TextOps.bpeMergeCandidates(docs, "text", k = t18Merges)
      .collect().map(_.getString(0)).toSeq
    TextOps.bpeEncode(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
  }(
      // t18: the t15 counting CTE ranks the merge table (same cnt DESC,
      // pair ASC order), then a recursive CTE replays bpeEncode's stated
      // merge-step rule — single-pass replace of the lowest-rank present
      // pair, re-scan until none applies — state-for-state over the vocab.
      s"""WITH RECURSIVE
         toks AS (SELECT doc_id, unnest(string_split($normText, ' ')) AS w
                  FROM documents),
         tc AS (SELECT doc_id, w, COUNT(*) AS cnt FROM toks GROUP BY 1, 2),
         wf AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS f FROM tc
                WHERE length(w) >= 2 GROUP BY w),
         prs AS (SELECT substr(w, i, 2) AS pair, f
                 FROM wf,
                   unnest(generate_series(1, length(w) - 1)) AS u(i)),
         pc AS (SELECT pair, CAST(SUM(f) AS BIGINT) AS cnt
                FROM prs GROUP BY pair),
         ranked AS (SELECT pair, CAST(row_number() OVER
               (ORDER BY cnt DESC, pair ASC) AS INT) AS rank
             FROM pc ORDER BY cnt DESC, pair ASC LIMIT ${
               t18Merges}),
         vocab AS (SELECT DISTINCT w FROM tc),
         rec(w, state) AS (
           SELECT w, '|' || regexp_replace(w, '(.)', '\\1|', 'g')
           FROM vocab
           UNION ALL
           SELECT rec.w, replace(rec.state,
               '|' || substr(m.pair, 1, 1) || '|' ||
                 substr(m.pair, 2, 1) || '|',
               '|' || m.pair || '|')
           FROM rec, LATERAL (
             SELECT pair FROM ranked r
             WHERE position(('|' || substr(r.pair, 1, 1) || '|' ||
               substr(r.pair, 2, 1) || '|') IN rec.state) > 0
             ORDER BY r.rank LIMIT 1) m),
         done AS (SELECT w,
             length(state) - length(replace(state, '|', '')) - 1 AS n_bpe
           FROM rec
           WHERE NOT EXISTS (SELECT 1 FROM ranked r
             WHERE position(('|' || substr(r.pair, 1, 1) || '|' ||
               substr(r.pair, 2, 1) || '|') IN rec.state) > 0))
         SELECT tc.doc_id, CAST(SUM(tc.cnt) AS BIGINT) AS n_words,
           CAST(SUM(tc.cnt * d.n_bpe) AS BIGINT) AS n_bpe_tokens
         FROM tc JOIN done d USING (w)
         GROUP BY tc.doc_id ORDER BY tc.doc_id""")

  /** Zipf fit (TextOps.zipfFit): OLS slope/intercept of ln(freq) on
    * ln(rank) over the top-100 tokens — the corpus-health statistic
    * (natural text ≈ −1). Bounded top-N frame, decimal-exact sums,
    * stated double-op regression; full SQL oracle. */
  gate("t20_zipf_fit") { (s, dir) =>
    TextOps.zipfFit(t(s, dir, "documents"), col("text"))
  }(
      // t20: ln quantized at 6 dp then EXACT decimal sums; the regression
      // closed form repeats the Spark side's double-op order, slope bound
      // in a CTE so the intercept reuses the identical double.
      s"""WITH toks AS (SELECT unnest(string_split($normText, ' '))
             AS token FROM documents),
         tf AS (SELECT token, COUNT(*) AS freq FROM toks GROUP BY token),
         top AS (SELECT token, freq, CAST(row_number() OVER (
               ORDER BY freq DESC, token) AS INT) AS rank
             FROM tf ORDER BY freq DESC, token LIMIT 100),
         q AS (SELECT
             CAST(round(ln(CAST(rank AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS x,
             CAST(round(ln(CAST(freq AS DOUBLE)), 6) AS DECIMAL(18,6))
               AS y
           FROM top),
         sums AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
           FROM q),
         fit AS (SELECT n, sx, sy,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope
           FROM sums)
         SELECT CAST(n AS BIGINT) AS n_ranked, round(slope, 6) AS slope,
           round((sy - slope * sx) / n, 6) AS intercept
         FROM fit""")

  /** t21 page-synthesis knobs, shared with the SQL oracle generator
    * (the q44Cols discipline): words per synthesized line, the
    * every-4th-line-unpunctuated cycle, and the (modulus, line)
    * boilerplate injections. The documents corpus is single-line word
    * soup, so the gate deterministically renders each doc as a
    * multi-line PAGE (the q39 fixture discipline) — line slices of the
    * doc's words plus planted boilerplate — covering every C4 rule:
    * %7 lorem-ipsum page drop, %13 brace page drop, %5 javascript line
    * drop, %11 an unpunctuated line, %4 cycle varies the terminal-punct
    * ratio, and the words-per-line tail exercises the min-words rule. */
  private val t21WordsPerLine = 10
  private val t21PunctCycle = 4
  private val t21Boiler: Seq[(Int, String)] = Seq(
    7 -> "lorem ipsum dolor sit amet.",
    5 -> "please enable javascript to view this page.",
    11 -> "read our terms of use and privacy policy",
    13 -> "function() { return 0; }.")

  /** t24's planted violations, keyed by doc_id residue (the t21
    * fixture discipline; each modulus exercises one Gopher rule in the
    * violating direction, odd ids get the stop-phrase that lets clean
    * docs pass the stop-word rule — the corpus vocabulary carries only
    * `the` from the stop set, so without planting the rule would fire
    * on every row). */
  private val t24StopPhrase =
    Seq("with", "that", "loaded", "the", "data")
  private val t24StopMod = 2    // odd ids carry the stop phrase
  private val t24HashMod = 13   // append #-runs (symbol ratio)
  private val t24OnesMod = 17   // append 1-char words (mean len)
  private val t24NumMod = 19    // append digit words (alpha frac)
  private val t24BulletMod = 7  // prefix every line with "- "
  private val t24EllipsisMod = 11 // "..." on even lines

  /** C4-style heuristic page filtering
    * ([[graft.text.HeuristicFilters.c4Filter]], Raffel et al. 2020
    * §2.2) over deterministically synthesized pages: per-doc verdict
    * (kept/reason), line/word retention counts, and the md5 of the
    * cleaned text — all row-local codegen'd expressions, no shuffle;
    * the DuckDB oracle re-derives synthesis AND rules from the shared
    * knobs so a drift in either fails the hash. */
  // t21: page synthesis (t21* knobs) + the C4 rule set
  // (HeuristicFilters constants) both re-derived relationally, so a
  // drift in either the fixture or a rule hash-mismatches.
  gate("t21_c4_filters") { (s, dir) =>
    val id = col("doc_id")
    val w = split(col("text"), " ")
    val nLines = floor((size(w) + lit(t21WordsPerLine - 1)) /
      lit(t21WordsPerLine)).cast("int")
    val raw = transform(sequence(lit(0), nLines - lit(1)), i =>
      concat(
        array_join(slice(w, i * lit(t21WordsPerLine) + lit(1),
          lit(t21WordsPerLine)), " "),
        when(((id + i) % t21PunctCycle) =!= 0, lit("."))
          .otherwise(lit(""))))
    val boiler = t21Boiler.map { case (m, line) =>
      when(id % m === 0, array(lit(line)))
        .otherwise(typedLit(Seq.empty[String]))
    }
    val pages = t(s, dir, "documents")
      .select(id, array_join(concat(raw +: boiler: _*), "\n").as("page"))
    graft.text.HeuristicFilters.c4Filter(pages, "doc_id", "page")
      .orderBy("doc_id")
  } {
      val wpl = t21WordsPerLine
      val cyc = t21PunctCycle
      // list_concat is binary in DuckDB; chain with || instead
      val boiler = t21Boiler.map { case (m, line) =>
        s"|| CASE WHEN doc_id % $m = 0 THEN ['${line.replace("'", "''")}'] ELSE []::VARCHAR[] END"
      }.mkString("\n             ")
      val hf = graft.text.HeuristicFilters
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
             FROM documents),
         pg AS (SELECT doc_id,
             list_transform(range((len(ws) + ${wpl - 1}) // $wpl), i ->
               array_to_string(array_slice(ws, i*$wpl + 1, i*$wpl + $wpl), ' ')
               || CASE WHEN (doc_id + i) % $cyc <> 0 THEN '.' ELSE '' END)
             $boiler AS ls
           FROM w),
         v AS (SELECT doc_id, ls,
             array_to_string(ls, chr(10)) AS page,
             list_filter(ls, l ->
               len(string_split(l, ' ')) >= ${hf.minWordsPerLine}
               AND right(l, 1) IN ('.', '!', '?')
               AND NOT contains(l, 'javascript')) AS kl
           FROM pg),
         r AS (SELECT doc_id, ls, kl,
             CASE WHEN contains(page, 'lorem ipsum') THEN '${hf.reasonLoremIpsum}'
                  WHEN contains(page, '{') THEN '${hf.reasonBrace}'
                  WHEN len(kl) < ${hf.minKeptLines} THEN '${hf.reasonTooFew}'
                  ELSE '${hf.reasonKept}' END AS reason
           FROM v)
         SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kl) AS BIGINT) AS n_lines_kept,
           CAST(COALESCE(list_sum(list_transform(kl, l ->
             len(string_split(l, ' ')))), 0) AS BIGINT) AS n_words_kept,
           CAST(CASE WHEN reason = '${hf.reasonKept}' THEN 1 ELSE 0 END
             AS BIGINT) AS kept,
           reason,
           CASE WHEN reason = '${hf.reasonKept}'
             THEN md5(array_to_string(kl, chr(10))) ELSE '' END AS clean_md5
         FROM r ORDER BY doc_id""" }

  /** Gopher-rule quality filtering
    * ([[graft.text.HeuristicFilters.gopherFilter]], Rae et al. 2021
    * Appendix A1.1.1) — the corpus-hygiene sibling of t21's C4 pass,
    * covering the rules C4 lacks: word-count bounds, mean-word-length
    * bounds, symbol-to-word ratio, bullet-/ellipsis-line fractions,
    * alphabetic-word fraction, stop-word floor. Words and lines are
    * staged ONCE ([[t21]]'s HOF discipline), every ratio is an integer
    * cross-multiplication, and each rule is exercised in both
    * directions by residue-class plants ([[t24StopPhrase]] etc). One
    * row-local scan, no shuffle/UDF/explode; the FULL DuckDB oracle
    * re-derives plants, counts and the precedence verdict. */
  // Re-derives t24's plants, counts and precedence verdict from the
  // SAME knobs t24 and HeuristicFilters compile against — every
  // ratio an integer cross-multiplication, so no float enters the
  // cross-engine compare.
  gate("t24_gopher_rules") { (s, dir) =>
    val id = col("doc_id")
    val base = split(col("text"), " ")
    val nb = size(base)
    def plant(cond: Column, arr: Column): Column =
      when(cond, arr).otherwise(typedLit(Seq.empty[String]))
    val ws0 = concat(base,
      plant(id % t24StopMod === 1, typedLit(t24StopPhrase)),
      plant(id % t24HashMod === 0, array_repeat(lit("#"),
        greatest(lit(1), floor(nb / lit(8)).cast("int")))),
      plant(id % t24OnesMod === 0, array_repeat(lit("a"), nb * 2)),
      plant(id % t24NumMod === 0, array_repeat(lit("1234"),
        greatest(lit(1), floor(nb / lit(3)).cast("int")))))
    val staged1 = t(s, dir, "documents").select(id, ws0.as("__ws"))
    val ws = col("__ws")
    val nLines = floor((size(ws) + lit(t21WordsPerLine - 1)) /
      lit(t21WordsPerLine)).cast("int")
    val lines = transform(sequence(lit(0), nLines - lit(1)), i =>
      concat(
        when(id % t24BulletMod === 0, lit("- ")).otherwise(lit("")),
        array_join(slice(ws, i * lit(t21WordsPerLine) + lit(1),
          lit(t21WordsPerLine)), " "),
        when(id % t24EllipsisMod === 0 && i % 2 === 0, lit("..."))
          .otherwise(lit(""))))
    val staged2 = staged1.select(id, ws, lines.as("__ls"))
    graft.text.HeuristicFilters.gopherFilter(staged2, "doc_id",
        "__ws", "__ls")
      .orderBy("doc_id")
  } {
      val hf = graft.text.HeuristicFilters
      val wpl = t21WordsPerLine
      val stop = t24StopPhrase.map("'" + _ + "'").mkString("[", ",", "]")
      val stopTerms = hf.gStopWords.map(sw =>
        s"(CASE WHEN list_contains(ws,'$sw') THEN 1 ELSE 0 END)")
        .mkString("\n             + ")
      s"""WITH b AS (SELECT doc_id, string_split(text, ' ') AS bw
             FROM documents),
         w AS (SELECT doc_id, bw
             || CASE WHEN doc_id % ${t24StopMod} = 1 THEN $stop
                ELSE []::VARCHAR[] END
             || CASE WHEN doc_id % ${t24HashMod} = 0 THEN
                  list_transform(range(greatest(1, len(bw) // 8)), x -> '#')
                ELSE []::VARCHAR[] END
             || CASE WHEN doc_id % ${t24OnesMod} = 0 THEN
                  list_transform(range(len(bw) * 2), x -> 'a')
                ELSE []::VARCHAR[] END
             || CASE WHEN doc_id % ${t24NumMod} = 0 THEN
                  list_transform(range(greatest(1, len(bw) // 3)), x -> '1234')
                ELSE []::VARCHAR[] END AS ws
           FROM b),
         l AS (SELECT doc_id, ws,
             list_transform(range((len(ws) + ${wpl - 1}) // $wpl), i ->
               CASE WHEN doc_id % ${t24BulletMod} = 0 THEN '- '
                 ELSE '' END
               || array_to_string(
                    array_slice(ws, i*$wpl + 1, i*$wpl + $wpl), ' ')
               || CASE WHEN doc_id % ${t24EllipsisMod} = 0 AND i % 2 = 0
                 THEN '...' ELSE '' END) AS ls
           FROM w),
         s AS (SELECT doc_id,
             CAST(len(ws) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0)
               AS BIGINT) AS sum_word_len,
             CAST(COALESCE(list_sum(list_transform(ws, x ->
               length(x) - length(replace(x, '#', ''))
               + (length(x) - length(replace(x, '...', ''))) // 3)), 0)
               AS BIGINT) AS n_symbols,
             CAST(len(ls) AS BIGINT) AS n_lines,
             CAST(len(list_filter(ls, x -> substr(x, 1, 2) = '- '))
               AS BIGINT) AS n_bullet_lines,
             CAST(len(list_filter(ls, x -> right(x, 3) = '...'))
               AS BIGINT) AS n_ellipsis_lines,
             CAST(len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))
               AS BIGINT) AS n_alpha_words,
             CAST($stopTerms AS BIGINT) AS n_stop_words
           FROM l),
         r AS (SELECT *, CASE
             WHEN n_words < ${hf.gMinWords} OR n_words > ${hf.gMaxWords}
               THEN '${hf.gReasons(0)}'
             WHEN sum_word_len < ${hf.gMinMeanLen} * n_words
               OR sum_word_len > ${hf.gMaxMeanLen} * n_words
               THEN '${hf.gReasons(1)}'
             WHEN n_symbols * 100 >= ${hf.gSymbolRatioPct} * n_words
               THEN '${hf.gReasons(2)}'
             WHEN n_bullet_lines * 100 >= ${hf.gBulletPct} * n_lines
               THEN '${hf.gReasons(3)}'
             WHEN n_ellipsis_lines * 100 >= ${hf.gEllipsisPct} * n_lines
               THEN '${hf.gReasons(4)}'
             WHEN n_alpha_words * 100 < ${hf.gAlphaPct} * n_words
               THEN '${hf.gReasons(5)}'
             WHEN n_stop_words < ${hf.gMinStopWords}
               THEN '${hf.gReasons(6)}'
             ELSE '${hf.gReasons(7)}' END AS reason
           FROM s)
         SELECT doc_id, n_words, sum_word_len, n_symbols, n_lines,
           n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stop_words,
           CAST(CASE WHEN reason = '${hf.gReasons(7)}' THEN 1 ELSE 0 END
             AS BIGINT) AS kept,
           reason
         FROM r ORDER BY doc_id""" }

  /** t25's slot knob, shared with the oracle SQL generator. */
  private val t25Buckets = 256

  /** Pairwise source-divergence profile (text/TextOps.jsDivergence,
    * Lin 1991): the which-sources-differ report a mixture designer
    * reads next to t14's which-docs-match-the-target weights — JS
    * divergence between every source pair's smoothed hashed-bigram
    * distribution, folded slot-ascending, in nats and bits at 6 dp. */
  // t25: pairwise JS divergence re-derived — the same md5 slot
  // hashing (t14's convention), the same add-0.5 smoothing over ALL
  // slots (empty slots keep their smoothing mass), the same
  // slot-ascending fold; ln at 6 dp is the t14 libm precedent.
  gate("t25_js_divergence") { (s, dir) =>
    TextOps.jsDivergence(t(s, dir, "documents"), "text", "source",
        buckets = t25Buckets)
      .orderBy("src_a", "src_b")
  } {
      val b = t25Buckets
      s"""WITH tk AS (SELECT source AS src,
             string_split($normText, ' ') AS t FROM documents),
         bg AS (SELECT src,
             CAST(concat('0x', substr(md5(t[i] || ' ' || t[i + 1]),
               1, 15)) AS BIGINT) % $b AS b
           FROM tk, unnest(generate_series(1, len(t) - 1)) AS u(i)
           WHERE len(t) >= 2),
         cnt AS (SELECT src, b, CAST(COUNT(*) AS BIGINT) AS c
           FROM bg GROUP BY 1, 2),
         tot AS (SELECT src, CAST(SUM(c) AS BIGINT) AS n
           FROM cnt GROUP BY 1),
         dense AS (SELECT t.src, u.b, t.n,
             (COALESCE(c.c, 0) + 0.5) / (t.n + 0.5 * $b) AS p
           FROM tot t
           CROSS JOIN unnest(generate_series(0, $b - 1)) AS u(b)
           LEFT JOIN cnt c ON c.src = t.src AND c.b = u.b),
         pr AS (SELECT x.src AS src_a, y.src AS src_b,
             x.n AS n_a, y.n AS n_b, x.b,
             0.5 * (x.p * ln(2.0 * x.p / (x.p + y.p)) +
                    y.p * ln(2.0 * y.p / (x.p + y.p))) AS t
           FROM dense x JOIN dense y ON x.b = y.b AND x.src < y.src)
         SELECT src_a, src_b,
           CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           round(list_reduce(list(t ORDER BY b), (a, x) -> a + x), 6)
             AS js_nats,
           round(list_reduce(list(t ORDER BY b), (a, x) -> a + x)
             / ln(2), 6) AS js_bits
         FROM pr GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** t22's knobs, shared with the SQL oracle generator. */
  private val t22PathSlots = 50
  private val t22Cap = 25

  /** URL canonicalization + per-domain volume caps (text/Urls — the
    * RefinedWeb/CCNet URL-dedup axis): URLs are synthesized
    * deterministically from documents (the t21/q39 fixture discipline;
    * every canonicalization rule — case, default ports, trailing
    * slash, fragment, tracking params, param order — is exercised by a
    * doc_id residue class and collisions are planted via
    * [[t22PathSlots]] path slots), then ONE scan feeds a two-level
    * aggregate: per (domain, canonical) the doc count / tracking count
    * / min doc_id, per domain the totals plus the [[t22Cap]]-lowest
    * surviving doc_ids via the bounded TopKByScore heap (never a
    * row_number window). The FULL DuckDB oracle re-derives synthesis,
    * canonicalization, dedup and cap byte-for-byte. */
  // t22: URL synthesis, canonicalization, dedup and per-domain cap
  // re-derived byte-for-byte (knobs shared via t22*; the
  // tracking filter mirrors Urls.isTracking: utm_ prefix + fbclid/
  // gclid exact names).
  gate("t22_url_filters") { (s, dir) =>
    import graft.text.Urls
    import graft.functions.TopK
    val id = col("doc_id")
    val sch = when(id % 7 === 0, lit("HTTPS")).otherwise(lit("http"))
    val sub = when(id % 5 === 0, lit("blog.")).otherwise(lit("www."))
    val tld = element_at(typedLit(Seq("com", "org", "net")),
      (id % 3).cast("int") + 1)
    val port = when(id % 11 === 0, lit(":8080"))
      .when(id % 4 === 0,
        when(id % 7 === 0, lit(":443")).otherwise(lit(":80")))
      .otherwise(lit(""))
    val slash = when(id % 2 === 0, lit("/")).otherwise(lit(""))
    val query = when(id % 3 === 0, lit("?utm_source=feed&ref=home"))
      .when(id % 3 === 1, lit("?ref=home&utm_campaign=x"))
      .otherwise(lit(""))
    val frag = when(id % 6 === 0, lit("#section-2")).otherwise(lit(""))
    val url = concat(sch, lit("://"), sub, col("source"), lit("."), tld,
      port, lit("/articles/item-"), (id % t22PathSlots).cast("string"),
      slash, query, frag)
    val u = t(s, dir, "documents")
      .select(id, url.as("url"))
      .select(id.as("doc_id"),
        Urls.canonicalize(col("url")).as("canon"),
        Urls.registeredDomain(col("url")).as("domain"),
        Urls.hasTracking(col("url")).cast("long").as("trk"))
    u.groupBy(col("domain"), col("canon")).agg(
        count(lit(1)).as("n_docs_u"),
        sum(col("trk")).as("n_trk_u"),
        min(col("doc_id")).as("doc_id"))
      .groupBy("domain").agg(
        sum(col("n_docs_u")).cast("long").as("n_docs"),
        count(lit(1)).as("n_urls"),
        sum(col("n_trk_u")).cast("long").as("n_tracking"),
        TopK.topKByScore(lit(0.0), col("doc_id"), t22Cap).as("arr"))
      .select(col("domain"), col("n_docs"), col("n_urls"),
        (col("n_docs") - col("n_urls")).as("n_dup_docs"),
        col("n_tracking"),
        size(col("arr")).cast("long").as("n_kept"),
        aggregate(transform(col("arr"), x => x.getField("id")),
          lit(0L), (acc, x) => acc + x).as("kept_docid_sum"))
      .orderBy("domain")
  } {
      val slots = t22PathSlots
      val cap = t22Cap
      val isTrk = "starts_with(p, 'utm_') OR starts_with(p, 'fbclid=')" +
        " OR starts_with(p, 'gclid=')"
      s"""WITH u AS (SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN 'HTTPS' ELSE 'http' END ||
           '://' ||
           CASE WHEN doc_id % 5 = 0 THEN 'blog.' ELSE 'www.' END ||
           source || '.' ||
           CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
             ELSE 'net' END ||
           CASE WHEN doc_id % 11 = 0 THEN ':8080'
                WHEN doc_id % 4 = 0 THEN
                  CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE ':80' END
                ELSE '' END ||
           '/articles/item-' || CAST(doc_id % $slots AS VARCHAR) ||
           CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END ||
           CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=home'
                WHEN doc_id % 3 = 1 THEN '?ref=home&utm_campaign=x'
                ELSE '' END ||
           CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END
             AS url
         FROM documents),
         parts AS (SELECT doc_id,
           lower(regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
           lower(regexp_extract(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
             '^([^:]*)', 1)) AS host,
           COALESCE(regexp_extract(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
             ':(\\d+)$$', 1), '') AS port,
           regexp_replace(COALESCE(regexp_extract(url,
             '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), ''),
             '/+$$', '') AS path,
           -- DuckDB regexp_extract yields NULL (not '') on no match
           COALESCE(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
         FROM u),
         canon AS (SELECT doc_id,
           regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS domain,
           sch || '://' || host ||
           CASE WHEN port = '' OR (sch = 'https' AND port = '443')
                  OR (sch = 'http' AND port = '80')
             THEN '' ELSE ':' || port END ||
           path ||
           CASE WHEN kept = '' THEN '' ELSE '?' || kept END AS canon,
           CASE WHEN len(list_filter(string_split(q, '&'),
             p -> $isTrk)) > 0 THEN 1 ELSE 0 END AS trk
         FROM (SELECT *, COALESCE(array_to_string(list_sort(list_filter(
             string_split(q, '&'),
             p -> NOT ($isTrk) AND p <> '')), '&'), '') AS kept
           FROM parts)),
         perurl AS (SELECT domain, canon,
             COUNT(*) AS n_docs_u, CAST(SUM(trk) AS BIGINT) AS n_trk_u,
             MIN(doc_id) AS doc_id
           FROM canon GROUP BY 1, 2),
         ranked AS (SELECT domain, doc_id, row_number() OVER (
             PARTITION BY domain ORDER BY doc_id) AS rn
           FROM perurl)
         SELECT p.domain,
           CAST(SUM(p.n_docs_u) AS BIGINT) AS n_docs,
           COUNT(*) AS n_urls,
           CAST(SUM(p.n_docs_u) - COUNT(*) AS BIGINT) AS n_dup_docs,
           CAST(SUM(p.n_trk_u) AS BIGINT) AS n_tracking,
           CAST(SUM(CASE WHEN r.rn <= $cap THEN 1 ELSE 0 END)
             AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN r.rn <= $cap THEN r.doc_id ELSE 0 END)
             AS BIGINT) AS kept_docid_sum
         FROM perurl p JOIN ranked r
           ON r.domain = p.domain AND r.doc_id = p.doc_id
         GROUP BY p.domain ORDER BY p.domain""" }

  /** t23's knobs, shared with the SQL oracle generator. */
  private val t23MinCount = 5
  private val t23K = 50

  /** Top-k PMI collocations (TextOps.pmiCollocations): which adjacent
    * token pairs co-occur far above chance — reported as the raw
    * probability ratio p(ab)/(p(a)p(b)) (monotone with PMI's log), so
    * the whole pipeline is counts + correctly-rounded IEEE division
    * and the full DuckDB oracle matches bit-for-bit. */
  // t23: PMI ratio from unigram/adjacent-pair counts; the division
  // association order mirrors TextOps.pmiCollocations literally, so
  // every double is bit-identical (correctly-rounded IEEE ops only).
  gate("t23_pmi_collocations") { (s, dir) =>
    TextOps.pmiCollocations(t(s, dir, "documents"), col("text"),
      minCount = t23MinCount, k = t23K)
  } {
      val mc = t23MinCount
      val k = t23K
      s"""WITH arrs AS (SELECT string_split($normText, ' ') AS arr
             FROM documents),
         uni AS (SELECT unnest(arr) AS w FROM arrs),
         uc AS (SELECT w, COUNT(*) AS n FROM uni GROUP BY w),
         n1 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n1 FROM uni),
         big AS (SELECT arr[i] AS tok_a, arr[i+1] AS tok_b
           FROM arrs, unnest(generate_series(1, len(arr) - 1)) AS u(i)),
         bc AS (SELECT tok_a, tok_b, COUNT(*) AS n_ab FROM big
           GROUP BY 1, 2 HAVING COUNT(*) >= $mc),
         n2 AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n2 FROM big)
         SELECT tok_a, tok_b, n_ab, a.n AS n_a, b.n AS n_b,
           round((CAST(n_ab AS DOUBLE) / n2) /
             ((CAST(a.n AS DOUBLE) / n1) *
              (CAST(b.n AS DOUBLE) / n1)), 6) AS pmi_ratio
         FROM bc JOIN uc a ON a.w = tok_a JOIN uc b ON b.w = tok_b,
           n1, n2
         ORDER BY pmi_ratio DESC, tok_a, tok_b LIMIT $k""" }

  /** Per-source dataset card (TextOps.dataCard): the corpus datasheet —
    * volume, token mass, mean quality, language share, unique/dup
    * fingerprints — as one grouped report; every column integer- or
    * decimal-exact so the full SQL oracle reproduces it bit-for-bit. */
  gate("t19_data_card") { (s, dir) =>
    TextOps.dataCard(t(s, dir, "documents"), "doc_id", "text",
        "source", "lang")
      .orderBy("source")
  }(
      // t19: every card column from exact integers or 6-dp decimal sums,
      // divisions in the same stated order as the Spark side.
      s"""WITH f AS (SELECT doc_id, source, lang, text,
             md5($normText) AS fp
           FROM documents),
         d AS (SELECT fp, COUNT(*) AS fp_df FROM f GROUP BY fp)
         SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM($wordCountSql) AS BIGINT) AS total_tokens,
           round(CAST(SUM(CAST(round($qualitySql, 6) AS DECIMAL(18,6)))
               AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6) AS mean_quality,
           round(CAST(COUNT(CASE WHEN lang = 'en' THEN 1 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS share_en,
           COUNT(DISTINCT fp) AS n_unique_fp,
           round(CAST(COUNT(CASE WHEN fp_df >= 2 THEN 1 END) AS DOUBLE) /
             CAST(COUNT(*) AS DOUBLE), 6) AS dup_rate
         FROM f JOIN d USING (fp)
         GROUP BY source ORDER BY source""")

  /** Readability scoring (TextOps.readability): Flesch reading ease +
    * Flesch-Kincaid grade per doc from integer sentence/word/syllable
    * counts — single codegen'd scan, full SQL oracle re-deriving every
    * count and both score chains. */
  gate("t17_readability") { (s, dir) =>
    TextOps.readability(t(s, dir, "documents"), "doc_id", "text")
      .orderBy("doc_id")
  }(
      // t17: integer sentence/word/syllable counts (stated rules shared
      // with TextOps.readability), then the Flesch / FK chains in the
      // same double-op order as the Spark side.
      s"""WITH c AS (SELECT doc_id,
             $wordCountSql AS n_words,
             greatest(CAST(1 AS BIGINT), CAST(length(
               regexp_extract_all(text, '[.!?]+')) AS BIGINT))
               AS n_sentences,
             CAST(length(regexp_extract_all($normText, '[aeiouy]+'))
               AS BIGINT) +
             CAST(length(list_filter(string_split($normText, ' '),
               w -> NOT regexp_matches(w, '[aeiouy]'))) AS BIGINT)
               AS n_syllables
           FROM documents),
         r AS (SELECT doc_id, n_words, n_sentences, n_syllables,
             CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE) AS wps,
             CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE) AS spw
           FROM c)
         SELECT doc_id, n_words, n_sentences, n_syllables,
           CASE WHEN n_words > 0 THEN round(CAST(206.835 AS DOUBLE) -
             CAST(1.015 AS DOUBLE) * wps - CAST(84.6 AS DOUBLE) * spw, 6)
           END AS flesch_ease,
           CASE WHEN n_words > 0 THEN round(CAST(0.39 AS DOUBLE) * wps +
             CAST(11.8 AS DOUBLE) * spw - CAST(15.59 AS DOUBLE), 6)
           END AS fk_grade
         FROM r ORDER BY doc_id""")
}
