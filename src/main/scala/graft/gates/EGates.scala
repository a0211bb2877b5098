package graft
package gates

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.text.TextOps
import Shared.{U64, ev, gateModelDir, langScore, modelGlob, t, toS, toU,
  wordCountSql}

/** Evaluation gates: AUC, calibration, PR curves, drift and
  * two-sample tests, bootstrap intervals, rank correlation and
  * agreement. */
object EGates extends Family {
  /** Exact tie-aware ROC AUC (operators/Eval.aucExact): is the
    * whitespace token count a discriminative signal for English docs?
    * Score = wordCount(text) (t03's integer token grid — the shared
    * wordCountSql twin), label = lang = 'en'. One counts-frame
    * groupBy + one fold row; all integers until the final division. */
  gate("e01_auc_label") { (s, dir) =>
    graft.operators.Eval.aucExact(t(s, dir, "documents"),
      TextOps.wordCount(col("text")), col("lang") === "en")
  }(
      // e01: exact midrank AUC re-derived — everything integer until the
      // final division, so the window formulation here equals the gate's
      // sorted-array fold bit-for-bit.
      s"""WITH b AS (SELECT $wordCountSql AS s, (lang = 'en') AS y
             FROM documents),
         c AS (SELECT s, COUNT(*) AS n_s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p_s
           FROM b GROUP BY 1),
         w AS (SELECT s, n_s, p_s,
             COALESCE(CAST(SUM(n_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cumb
           FROM c),
         a AS (SELECT
             CAST(SUM(p_s * (2*cumb + n_s + 1)) AS BIGINT) AS two_r,
             CAST(SUM(p_s) AS BIGINT) AS n_pos,
             CAST(SUM(n_s) AS BIGINT) AS n FROM w)
         SELECT n_pos, n - n_pos AS n_neg,
           two_r - n_pos*(n_pos+1) AS auc_num,
           2*n_pos*(n-n_pos) AS auc_den,
           CAST(two_r - n_pos*(n_pos+1) AS DOUBLE) /
             CAST(2*n_pos*(n-n_pos) AS DOUBLE) AS auc
         FROM a""")

  /** Calibration bins + Brier (operators/Eval.calibrationBins): is the
    * pseudo-probability p = (wordCount mod 129)/128 calibrated against
    * the English label? p is a BINARY fraction by construction, so
    * every sum is exact across engines (the contract documented on the
    * operator); 10 reliability bins + the overall Brier total row. */
  gate("e06_calibration") { (s, dir) =>
    graft.operators.Eval.calibrationBins(t(s, dir, "documents"),
        TextOps.wordCount(col("text")) % 129, pDenLog2 = 7,
        col("lang") === "en", bins = 10)
      .orderBy("kind", "bin")
  }(
      // e06: calibration bins re-derived — p is a binary fraction
      // (num/128), so the p and (p-y)^2 sums are exact doubles in any
      // order in both engines; bin = integer num*10/128 clamped to 9.
      s"""WITH b AS (SELECT ($wordCountSql) % 129 AS num,
             (lang = 'en') AS y
           FROM documents),
         v AS (SELECT LEAST(num * 10 // 128, 9) AS bin,
             CAST(num AS DOUBLE) / 128 AS p,
             CASE WHEN y THEN 1.0 ELSE 0.0 END AS yd,
             CASE WHEN y THEN 1 ELSE 0 END AS pos
           FROM b),
         g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(p) AS DOUBLE) AS sum_p,
             CAST(SUM(pos) AS BIGINT) AS n_pos,
             CAST(SUM((p - yd) * (p - yd)) AS DOUBLE) AS brier_sum
           FROM v GROUP BY 1),
         t AS (SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(sum_p) AS DOUBLE) AS sum_p,
             CAST(SUM(n_pos) AS BIGINT) AS n_pos,
             CAST(SUM(brier_sum) AS DOUBLE) AS brier_sum
           FROM g),
         rows_ AS (
           SELECT 'bin' AS kind, bin, n,
             round(sum_p / n, 6) AS avg_p, n_pos,
             round(CAST(n_pos AS DOUBLE) / n, 6) AS pos_rate,
             round(brier_sum / n, 6) AS brier
           FROM g
           UNION ALL
           SELECT 'total', CAST(-1 AS BIGINT), n,
             round(sum_p / n, 6), n_pos,
             round(CAST(n_pos AS DOUBLE) / n, 6),
             round(brier_sum / n, 6)
           FROM t)
         SELECT * FROM rows_ ORDER BY kind, bin""")

  /** Precision–recall curve + average precision
    * (operators/Eval.prCurve) over the SAME score/label pair as e01's
    * ROC AUC — the imbalance-robust ranking view of the identical
    * signal: per-threshold exact TP/FP points with correctly-rounded
    * precision/recall/ΔR·P terms, plus the AP total from one
    * descending-threshold fold. */
  gate("e07_pr_auc") { (s, dir) =>
    graft.operators.Eval.prCurve(t(s, dir, "documents"),
        TextOps.wordCount(col("text")), col("lang") === "en")
      .orderBy("kind", "s")
  }(
      // e07: same counts frame as e01, descending-threshold cumulative
      // TP/seen via a window over the BOUNDED score grid, each emitted
      // value one correctly-rounded division of exact int64s, and the AP
      // total a list_reduce in the same descending order the Spark fold
      // runs.
      s"""WITH b AS (SELECT $wordCountSql AS s, (lang = 'en') AS y
             FROM documents),
         c AS (SELECT s, COUNT(*) AS n_s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p_s
           FROM b GROUP BY 1),
         tt AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n,
             CAST(SUM(p_s) AS BIGINT) AS n_pos FROM c),
         pt AS (SELECT s, p_s AS d_tp,
             CAST(SUM(p_s) OVER (ORDER BY s DESC) AS BIGINT) AS tp,
             CAST(SUM(n_s) OVER (ORDER BY s DESC) AS BIGINT) AS seen
           FROM c),
         p2 AS (SELECT 'point' AS kind, s, d_tp, tp,
             seen - tp AS fp, (SELECT n_pos FROM tt) AS n_pos,
             CAST(tp AS DOUBLE) / CAST(seen AS DOUBLE) AS precision,
             CAST(tp AS DOUBLE) / CAST((SELECT n_pos FROM tt) AS DOUBLE)
               AS recall,
             CAST(d_tp * tp AS DOUBLE) /
               CAST((SELECT n_pos FROM tt) * seen AS DOUBLE) AS term
           FROM pt)
         SELECT kind, s, d_tp, tp, fp, n_pos, precision, recall, term
           FROM p2
         UNION ALL
         SELECT 'total', -1, 0, (SELECT n_pos FROM tt),
             (SELECT n - n_pos FROM tt), (SELECT n_pos FROM tt),
             0.0, 0.0,
             list_reduce(list(term ORDER BY s DESC), (x, y) -> x + y)
           FROM p2
         ORDER BY kind, s""")

  /** e02 + st12 (batch anchor and streaming drift monitor share the
    * statistic verbatim — the cells are order-insensitive counts). */
  private[gates] val chi2DriftSql: String =
    s"""WITH b AS (SELECT source AS k, (lang = 'en') AS a
           FROM documents),
       c AS (SELECT k,
           CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS o_a,
           CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS o_b
         FROM b GROUP BY 1),
       t AS (SELECT CAST(SUM(o_a) AS BIGINT) AS n_a,
           CAST(SUM(o_b) AS BIGINT) AS n_b FROM c),
       z AS (SELECT c.k, c.o_a, c.o_b, t.n_a, t.n_b,
           c.o_a + c.o_b AS ct, t.n_a + t.n_b AS n FROM c, t),
       p AS (SELECT 'cell' AS kind, k, o_a, o_b,
           CAST((o_a*n - n_a*ct)*(o_a*n - n_a*ct) AS DOUBLE) /
             CAST(n_a*ct*n AS DOUBLE)
           + CAST((o_b*n - n_b*ct)*(o_b*n - n_b*ct) AS DOUBLE) /
             CAST(n_b*ct*n AS DOUBLE) AS term
         FROM z),
       tt AS (SELECT 'total' AS kind, '' AS k,
           (SELECT n_a FROM t) AS o_a, (SELECT n_b FROM t) AS o_b,
           list_reduce(list(term ORDER BY k), (x, y) -> x + y) AS term
         FROM p)
       SELECT kind, k, o_a, o_b, term FROM
         (SELECT * FROM p UNION ALL SELECT * FROM tt)
       ORDER BY kind, k"""

  /** Chi-squared source-mix drift (operators/Eval.chi2Drift): did the
    * per-source document mix shift between the English and
    * non-English populations? Per-source contribution rows + one
    * deterministic ordered-fold total. */
  // e02: chi-squared homogeneity per source — exact integer
  // numerators, the two window terms summed a-then-b, the total an
  // ordered list fold (the dotD accumulation-order discipline).
  gate("e02_chi2_drift") { (s, dir) =>
    graft.operators.Eval.chi2Drift(t(s, dir, "documents"),
      col("source"), col("lang") === "en")
      .orderBy("kind", "k")
  }(chi2DriftSql)

  /** Two-sample KS (operators/Eval.ks2Sample): does `value`
    * distribute differently across the click and error event types?
    * The exact rational D = max|cumA·n_b − cumB·n_a| / (n_a·n_b) and
    * its first witness value. */
  gate("e03_ks_2sample") { (s, dir) =>
    graft.operators.Eval.ks2Sample(
      ev(s, dir).filter(col("event_type").isin("click", "error")),
      col("value"), col("event_type") === "click")
  }(
      // e03: two-sample KS — the D statistic's exact rational form
      // max|cumA*n_b - cumB*n_a|/(n_a*n_b) plus its first witness value,
      // re-derived with windows over the same value grid.
      s"""WITH b AS (SELECT value AS v, (event_type = 'click') AS a
             FROM events WHERE event_type IN ('click', 'error')),
         c AS (SELECT v,
             CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT) AS c_b
           FROM b GROUP BY 1),
         t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_b) AS BIGINT) AS n_b FROM c),
         cum AS (SELECT v,
             CAST(SUM(c_a) OVER (ORDER BY v) AS BIGINT) AS ca,
             CAST(SUM(c_b) OVER (ORDER BY v) AS BIGINT) AS cb FROM c),
         d AS (SELECT v,
             abs(ca*(SELECT n_b FROM t) - cb*(SELECT n_a FROM t)) AS diff
           FROM cum),
         m AS (SELECT MAX(diff) AS num FROM d),
         at AS (SELECT MIN(v) AS ks_at FROM d
           WHERE diff = (SELECT num FROM m))
         SELECT t.n_a, t.n_b, m.num AS ks_num, t.n_a*t.n_b AS ks_den,
           CAST(m.num AS DOUBLE)/CAST(t.n_a*t.n_b AS DOUBLE) AS ks,
           at.ks_at
         FROM t, m, at""")

  /** e08's knobs, shared with the oracle SQL generator: 64 Poisson
    * replicates, nearest-rank 95% CI = the 2nd / 63rd order
    * statistics of the sorted replicate means (ceil(0.025·64) /
    * ceil(0.975·64)). Since r19 the coin is the xxhash64 draw
    * (Eval.integerDrawXx — one XXH64 chain per (row, replicate)
    * instead of string-concat + md5; the bootstrap's honest-linear
    * leg is draw-dominated, so the digest IS the constant factor);
    * the flag is shared so gate and oracle switch together. */
  private[gates] val e08Replicates = 64
  private[gates] val e08LoRank = 2
  private[gates] val e08HiRank = 63
  private[gates] val e08Seed = "graft-boot"
  private[gates] val e08XxDraw = true

  // -- XXH64 hashLong twin (e08/st15's xxhash64 bootstrap coin,
  // Eval.integerDrawXx): Spark's xxhash64 folds columns left-to-right
  // as hashLong(colN, … hashLong(col1, hashUTF8String(seed, 42))), so
  // the oracle interpolates the string stage as a constant (computed by
  // [[xxh64Utf8]], an engine-free XXH64) and replays only the long
  // stages in wrapping u64 HUGEINT arithmetic. Every intermediate lives
  // in its own nested SELECT: DuckDB expands SAME-SELECT alias
  // references textually, so a flat alias chain blows up ~3^24 — the
  // nesting is what keeps the expression tree linear in the 24 steps.
  private val XxP1 = "11400714785074694791"
  private val XxP2 = "14029467366897019727"
  private val XxP3 = "1609587929392839161"
  private val XxP4 = "9650029242287828579"
  private val XxP5 = "2870177450012600261"
  /** Wrapping u64 multiply via 32-bit split (u64·u64 overflows
    * HUGEINT; each split partial stays < 2^97). */
  private def xxMul(a: String, b: String): String =
    s"((($a) % 4294967296) * (($b) % 4294967296) + (((($a) % " +
      s"4294967296) * (($b) // 4294967296) + (($a) // 4294967296) * " +
      s"(($b) % 4294967296)) % 4294967296) * 4294967296) % $U64"
  private def xxRotl(x: String, s: Int): String =
    s"((($x) * ${BigInt(1) << s}) % $U64 + (($x) // ${BigInt(1) << (64 - s)}))"
  private def xxXor(a: String, b: String): String =
    toU(s"xor(${toS(a)}, ${toS(b)})")
  private def xxShr(x: String, s: Int): String =
    s"(($x) // ${BigInt(1) << s})"
  /** XXH64 of `s`'s UTF-8 bytes at `seed` (the string stage of Spark's
    * xxhash64), in plain Scala so the oracle does not borrow the
    * engine's hash. */
  private[gates] def xxh64Utf8(s: String, seed: Long): Long = {
    val Seq(p1, p2, p3, p4, p5) = Seq(XxP1, XxP2, XxP3, XxP4, XxP5)
      .map(java.lang.Long.parseUnsignedLong)
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def le(i: Int, n: Int): Long =
      (0 until n).foldLeft(0L)((w, j) => w | (b(i + j) & 0xffL) << (8 * j))
    def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)
    def round(acc: Long, in: Long): Long = rotl(acc + in * p2, 31) * p1
    var i = 0
    var h =
      if (b.length < 32) seed + p5
      else {
        var v = Seq(seed + p1 + p2, seed + p2, seed, seed - p1)
        while (i + 32 <= b.length) {
          v = v.indices.map(k => round(v(k), le(i + 8 * k, 8)))
          i += 32
        }
        v.foldLeft(rotl(v(0), 1) + rotl(v(1), 7) + rotl(v(2), 12) +
          rotl(v(3), 18))((a, x) => (a ^ round(0L, x)) * p1 + p4)
      }
    h += b.length
    while (i + 8 <= b.length) {
      h = rotl(h ^ round(0L, le(i, 8)), 27) * p1 + p4; i += 8
    }
    if (i + 4 <= b.length) {
      h = rotl(h ^ le(i, 4) * p1, 23) * p2 + p3; i += 4
    }
    while (i < b.length) { h = rotl(h ^ le(i, 1) * p5, 11) * p1; i += 1 }
    h ^= h >>> 33; h *= p2; h ^= h >>> 29; h *= p3; h ^ (h >>> 32)
  }

  /** Nested-subquery chain computing XXH64.hashLong(`inputU`, `seedU`)
    * into column `out` over `inner`; `keep` columns pass through. */
  private def xxHashLongSql(inner: String, keep: Seq[String], p: String,
                            inputU: String, seedU: String,
                            out: String): String = {
    val steps = Seq(
      (s"(($seedU) + $XxP5 + 8) % $U64", s"${p}h1"),
      (xxMul(inputU, XxP2), s"${p}k1"),
      (xxRotl(s"${p}k1", 31), s"${p}k2"),
      (xxMul(s"${p}k2", XxP1), s"${p}k3"),
      (xxXor(s"${p}h1", s"${p}k3"), s"${p}m1"),
      (xxRotl(s"${p}m1", 27), s"${p}m2"),
      (s"(${xxMul(s"${p}m2", XxP1)} + $XxP4) % $U64", s"${p}m3"),
      (xxXor(s"${p}m3", xxShr(s"${p}m3", 33)), s"${p}f1"),
      (xxMul(s"${p}f1", XxP2), s"${p}f2"),
      (xxXor(s"${p}f2", xxShr(s"${p}f2", 29)), s"${p}f3"),
      (xxMul(s"${p}f3", XxP3), s"${p}f4"),
      (xxXor(s"${p}f4", xxShr(s"${p}f4", 32)), out))
    steps.foldLeft((inner, keep)) { case ((q, ks), (expr, alias)) =>
      (s"(SELECT ${ks.mkString(", ")}, $expr AS $alias FROM $q)",
        ks :+ alias)
    }._1
  }

  /** Poisson-bootstrap CI — the shared oracle of the e08 batch
    * gate and its st15 streaming twin (the stream-drained reps
    * frame equals the batch build bit-for-bit: integer counting is
    * order-insensitive and the coins hash-derived).
    * Re-draws every 60-bit coin — the xxhash64 chain when the shared
    * e08XxDraw flag is on (the [[xxHashLongSql]] twin; the md5 digest
    * otherwise) — against the pinned integer CDF thresholds
    * (Eval.poissonCdf60, shared constants) and re-picks the identical
    * (mean, b) order statistics. */
  private[gates] lazy val bootstrapCiSql: String = {
      val w = graft.operators.Eval.poissonCdf60
        .map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString("(", " + ", ")")
      val seed = e08Seed
      val drawsCte =
        if (e08XxDraw) {
          // the grid with u64 twins of (id, b), then the two long
          // stages; the masked low-60 coin is hb % 2^60 (= Spark's
          // bitwiseAND on the non-negative masked value)
          val grid = s"(SELECT id, v, b, ${toU("id")} AS iu, " +
            s"CAST(b AS HUGEINT) AS bu FROM v, " +
            s"unnest(generate_series(0, " +
            s"${e08Replicates - 1})) AS t(b))"
          val h0 = java.lang.Long.toUnsignedString(xxh64Utf8(seed, 42L))
          val idStage = xxHashLongSql(grid,
            Seq("id", "v", "b", "iu", "bu"), "x", "iu", h0, "hid")
          val bStage = xxHashLongSql(idStage,
            Seq("id", "v", "b", "bu", "hid"), "y", "bu", "hid", "hb")
          s"""draws AS (SELECT id, v, b,
             CAST(hb % ${BigInt(1) << 60} AS BIGINT) AS u
           FROM $bStage)"""
        } else
          s"""draws AS (SELECT id, v, b,
             CAST(concat('0x', substr(md5('$seed' ||
               CAST(id AS VARCHAR) || '|' || CAST(b AS VARCHAR)),
               1, 15)) AS BIGINT) AS u
           FROM v, unnest(generate_series(0,
             ${e08Replicates - 1})) AS t(b))"""
      s"""WITH v AS (SELECT doc_id AS id, $wordCountSql AS v
             FROM documents),
         $drawsCte,
         reps AS (SELECT CAST(b AS BIGINT) AS b,
             CAST(SUM($w) AS BIGINT) AS n_eff,
             CAST(SUM($w * v) AS BIGINT) AS wsum
           FROM draws GROUP BY 1),
         rep_rows AS (SELECT 'rep' AS kind, b, n_eff, wsum,
             CAST(wsum AS DOUBLE)/CAST(n_eff AS DOUBLE) AS mean
           FROM reps),
         total AS (SELECT 'total' AS kind, CAST(-1 AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n_eff,
             CAST(SUM(v) AS BIGINT) AS wsum,
             CAST(SUM(v) AS DOUBLE)/CAST(COUNT(*) AS DOUBLE) AS mean
           FROM v),
         ord AS (SELECT b, n_eff, wsum, mean,
             row_number() OVER (ORDER BY mean, b) AS rk FROM rep_rows)
         SELECT kind, b, n_eff, wsum, mean FROM (
           SELECT * FROM rep_rows
           UNION ALL SELECT * FROM total
           UNION ALL SELECT 'ci_lo', b, n_eff, wsum, mean FROM ord
             WHERE rk = ${e08LoRank}
           UNION ALL SELECT 'ci_hi', b, n_eff, wsum, mean FROM ord
             WHERE rk = ${e08HiRank})
         ORDER BY kind, b"""
  }

  /** Poisson-bootstrap CI (operators/Eval.poissonBootstrap — the
    * one-scan bootstrap a 100 TB corpus can actually afford): how
    * tight is the corpus mean word count? 64 deterministic Poisson(1)
    * xxhash64-replicates of the t03 integer token grid, exact int64
    * partial sums per replicate, nearest-rank 95% CI picked (never
    * interpolated) from the sorted replicate means. */
  // e08: the Poisson bootstrap re-drawn coin-for-coin — the same
  // 60-bit md5 draws, the same pinned integer CDF thresholds
  // (Eval.poissonCdf60, shared constants), exact integer partial
  // sums per replicate, and the nearest-rank CI picked by the
  // identical (mean, b) order statistics.
  gate("e08_bootstrap_ci") { (s, dir) =>
    graft.operators.Eval.poissonBootstrap(t(s, dir, "documents"),
        col("doc_id"), TextOps.wordCount(col("text")),
        replicates = e08Replicates, seed = e08Seed,
        loRank = e08LoRank, hiRank = e08HiRank, xxDraw = e08XxDraw)
      .orderBy("kind", "b")
  }(bootstrapCiSql)

  /** Exact tie-aware Spearman rank correlation
    * (operators/Eval.spearmanExact): does the whitespace token count
    * rank documents the same way raw length does? x = t03's word
    * count, y = n_chars — doubled midranks on both marginals, exact
    * decimal moment sums, one pinned-order ρ. */
  gate("e09_spearman") { (s, dir) =>
    graft.operators.Eval.spearmanExact(t(s, dir, "documents"),
      TextOps.wordCount(col("text")), col("n_chars"))
  }(
      // e09: Spearman with midranks — doubled midranks off each
      // marginal's cumulative window (2·cum_incl − n_v + 1 ≡ the gate's
      // 2·cum_before + n_v + 1), exact HUGEINT moment sums twinning the
      // gate's decimal(38,0), the same single-cast/sqrt/divide chain.
      s"""WITH b AS (SELECT $wordCountSql AS x, n_chars AS y
             FROM documents),
         pc AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_xy
           FROM b GROUP BY 1, 2),
         rx AS (SELECT x,
             2*CAST(SUM(nv) OVER (ORDER BY x) AS BIGINT) - nv + 1
               AS r2x
           FROM (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS nv
                 FROM pc GROUP BY 1)),
         ry AS (SELECT y,
             2*CAST(SUM(nv) OVER (ORDER BY y) AS BIGINT) - nv + 1
               AS r2y
           FROM (SELECT y, CAST(SUM(n_xy) AS BIGINT) AS nv
                 FROM pc GROUP BY 1)),
         m AS (SELECT
             CAST(SUM(CAST(n_xy AS HUGEINT)) AS HUGEINT) AS n,
             CAST(SUM(CAST(n_xy AS HUGEINT)*r2x) AS HUGEINT) AS sx,
             CAST(SUM(CAST(n_xy AS HUGEINT)*r2y) AS HUGEINT) AS sy,
             CAST(SUM(CAST(n_xy AS HUGEINT)*r2x*r2x) AS HUGEINT)
               AS sxx,
             CAST(SUM(CAST(n_xy AS HUGEINT)*r2y*r2y) AS HUGEINT)
               AS syy,
             CAST(SUM(CAST(n_xy AS HUGEINT)*r2x*r2y) AS HUGEINT)
               AS sxy
           FROM pc JOIN rx USING (x) JOIN ry USING (y))
         SELECT CAST(n AS BIGINT) AS n,
           CAST(sx AS DOUBLE) AS sx, CAST(sy AS DOUBLE) AS sy,
           CAST(sxx AS DOUBLE) AS sxx, CAST(syy AS DOUBLE) AS syy,
           CAST(sxy AS DOUBLE) AS sxy,
           CAST(n*sxy - sx*sy AS DOUBLE) AS num,
           CAST(n*sxy - sx*sy AS DOUBLE) /
             (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) *
              sqrt(CAST(n*syy - sy*sy AS DOUBLE))) AS rho
         FROM m""")

  /** e11's knobs, shared with the oracle SQL generator: 10 bins of
    * 50.00 (5000 cents) each, top bin clamped. */
  private val e11Bins = 10
  private val e11BinCents = 5000L

  /** Population Stability Index (operators/Eval.psi) on the SAME
    * click-vs-error value populations as e03/e10 — the ML-ops drift
    * score (PSI > 0.25 = the classic retrain alarm) next to the
    * hypothesis tests: exact integer cent binning, smoothed densities
    * over ALL bins, the bin-ascending ln fold at 6 dp. */
  // e11: PSI re-derived — the same exact cent binning (decimal cast
  // · 100 → BIGINT, // the integral div, top bin clamped), the same
  // smoothed densities over ALL bins, the same bin-ascending fold;
  // ln at 6 dp is the t14/t25 libm precedent.
  gate("e11_psi") { (s, dir) =>
    graft.operators.Eval.psi(
        ev(s, dir).filter(col("event_type").isin("click", "error")),
        col("value"), col("event_type") === "click",
        bins = e11Bins, binCents = e11BinCents)
      .orderBy("kind", "bin")
  } {
      val bins = e11Bins
      val bc = e11BinCents
      s"""WITH b AS (SELECT
             CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents,
             (event_type = 'click') AS a
           FROM events WHERE event_type IN ('click', 'error')),
         c AS (SELECT least(cents // $bc, ${bins - 1}) AS bin,
             CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
               AS c_b
           FROM b GROUP BY 1),
         t AS (SELECT CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_b) AS BIGINT) AS n_b FROM c),
         dense AS (SELECT u.bin,
             COALESCE(c.c_a, 0) AS c_a, COALESCE(c.c_b, 0) AS c_b,
             (COALESCE(c.c_a, 0) + 0.5) / (t.n_a + 0.5 * $bins) AS p_a,
             (COALESCE(c.c_b, 0) + 0.5) / (t.n_b + 0.5 * $bins) AS p_b
           FROM unnest(generate_series(0, ${bins - 1})) AS u(bin)
           CROSS JOIN t
           LEFT JOIN c ON c.bin = u.bin),
         d2 AS (SELECT bin, c_a, c_b, p_a, p_b,
             (p_a - p_b) * ln(p_a / p_b) AS t_raw FROM dense)
         SELECT kind, bin, c_a, c_b, p_a, p_b, term FROM (
           SELECT 'bin' AS kind, CAST(bin AS BIGINT) AS bin, c_a, c_b,
             p_a, p_b, round(t_raw, 6) AS term FROM d2
           UNION ALL
           SELECT 'total', CAST(-1 AS BIGINT),
             CAST(SUM(c_a) AS BIGINT), CAST(SUM(c_b) AS BIGINT),
             0.0, 0.0,
             round(list_reduce(list(t_raw ORDER BY bin),
               (x, y) -> x + y), 6)
           FROM d2)
         ORDER BY kind, bin"""
  }

  /** Mann–Whitney U z-test (operators/Eval.mannWhitney) on the SAME
    * click-vs-error value populations as e03's KS — the rank-based
    * location-shift test next to the CDF-supremum test: exact integer
    * 2U₁/2μ off the doubled-midrank fold, tie-corrected variance in
    * exact rational decimal(38,0), z a stated cast/sqrt/divide
    * chain. */
  gate("e10_mannwhitney") { (s, dir) =>
    graft.operators.Eval.mannWhitney(
      ev(s, dir).filter(col("event_type").isin("click", "error")),
      col("value"), col("event_type") === "click")
  }(
      // e10: Mann–Whitney with midranks — the same doubled-midrank
      // cumulative window as e01/e09, the tie term and variance in
      // HUGEINT twinning the gate's decimal(38,0), the same
      // cast/sqrt/divide z chain.
      s"""WITH b AS (SELECT value AS v, (event_type = 'click') AS a
             FROM events WHERE event_type IN ('click', 'error')),
         c AS (SELECT v,
             CAST(SUM(CASE WHEN a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
             CAST(SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS BIGINT)
               AS c_b
           FROM b GROUP BY 1),
         w AS (SELECT v, c_a, c_b, c_a + c_b AS t,
             COALESCE(CAST(SUM(c_a + c_b) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cumb
           FROM c),
         agg AS (SELECT
             CAST(SUM(c_a) AS BIGINT) AS n_a,
             CAST(SUM(c_b) AS BIGINT) AS n_b,
             CAST(SUM(c_a * (2*cumb + t + 1)) AS BIGINT) AS two_r1,
             CAST(SUM(CAST(t AS HUGEINT)*t*t - t) AS HUGEINT) AS t_ties
           FROM w),
         e AS (SELECT n_a, n_b, n_a + n_b AS n, two_r1, t_ties
           FROM agg),
         f AS (SELECT n_a, n_b,
             two_r1 - n_a*(n_a + 1) AS u2,
             n_a*n_b AS mu2,
             CAST(t_ties AS DOUBLE) AS t_ties,
             CAST(CAST(n_a AS HUGEINT)*n_b*
                 ((CAST(n AS HUGEINT) + 1)*n*(n - 1) - t_ties)
               AS DOUBLE) /
             CAST(12*CAST(n AS HUGEINT)*(n - 1) AS DOUBLE) AS var_u
           FROM e)
         SELECT n_a, n_b, u2, mu2, t_ties, var_u,
           CAST(u2 - mu2 AS DOUBLE) / (2.0 * sqrt(var_u)) AS z
         FROM f""")

  /** Cohen's kappa (operators/Eval.cohensKappa) between t01's n-gram
    * language prediction and the true lang label — the chance-
    * corrected agreement score OVER t16's raw confusion matrix
    * (accuracy flatters the skewed corpus; kappa subtracts what the
    * marginals agree on by chance): per-class exact totals +
    * chance contributions, κ all-integer until one division. */
  // e12: Cohen's kappa over the same langid prediction as t16 —
  // exact confusion totals, per-class chance contributions, the
  // all-integer kappa identity in HUGEINT twinning decimal(38,0).
  gate("e12_cohens_kappa") { (s, dir) =>
    graft.operators.Eval.cohensKappa(t(s, dir, "documents"),
        TextOps.langId(col("text")), col("lang"))
      .orderBy("kind", "label")
  } {
      val scoreCols = graft.text.TextOps.profiles
        .map { case (l, _) => s"${langScore(l)} AS s_$l" }.mkString(",\n")
      val langs = graft.text.TextOps.profiles.map(_._1)
      val m = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val caseExpr = langs.map(l => s"WHEN s_$l = $m THEN '$l'")
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH scored AS (SELECT lang AS t, $scoreCols
             FROM documents),
         cm AS (SELECT $caseExpr AS p, t,
             CAST(COUNT(*) AS BIGINT) AS n_pt
           FROM scored GROUP BY 1, 2),
         cls AS (SELECT DISTINCT label FROM
           (SELECT p AS label FROM cm UNION ALL SELECT t FROM cm)),
         pt AS (SELECT p AS label, CAST(SUM(n_pt) AS BIGINT) AS n_pred
           FROM cm GROUP BY 1),
         tt AS (SELECT t AS label, CAST(SUM(n_pt) AS BIGINT) AS n_true
           FROM cm GROUP BY 1),
         dg AS (SELECT p AS label, n_pt AS n_agree FROM cm WHERE p = t),
         bc AS (SELECT c.label,
             COALESCE(pt.n_pred, 0) AS n_pred,
             COALESCE(tt.n_true, 0) AS n_true,
             COALESCE(dg.n_agree, 0) AS n_agree,
             COALESCE(pt.n_pred, 0) * COALESCE(tt.n_true, 0) AS pe
           FROM cls c LEFT JOIN pt USING (label)
           LEFT JOIN tt USING (label) LEFT JOIN dg USING (label)),
         ag AS (SELECT CAST(SUM(n_pred) AS BIGINT) AS n,
             CAST(SUM(n_agree) AS BIGINT) AS agree,
             CAST(SUM(CAST(pe AS HUGEINT)) AS HUGEINT) AS pe FROM bc)
         SELECT kind, label, n_pred, n_true, n_agree, pe, kappa FROM (
           SELECT 'class' AS kind, label, n_pred, n_true, n_agree, pe,
             0.0 AS kappa FROM bc
           UNION ALL
           SELECT 'total', '', n, n, agree, CAST(pe AS BIGINT),
             CAST(CAST(n AS HUGEINT)*agree - pe AS DOUBLE) /
             CAST(CAST(n AS HUGEINT)*n - pe AS DOUBLE)
           FROM ag)
         ORDER BY kind, label"""
  }

  /** e05's top-k knob, shared with the oracle SQL generator. */
  private val e05TopK = 5

  /** Embedding-space drift (Eval.meanVectors + embedDrift — the
    * embedding axis of the drift family: did the corpus move in vector
    * space between two snapshots?): the per-population per-dim mean
    * vectors are the one non-SQL-portable step (engine-order double
    * avg, s06's class), persisted via ModelStore "mean_vecs"; the
    * report — top-[[e05TopK]] drifted dims + L2/cosine between means —
    * derives from the LOADED model with pinned-order arithmetic, so
    * the FULL DuckDB oracle re-derives it bit-for-bit from the export
    * (the r13 exported-model route on the evaluation axis). */
  gate("e05_embed_drift") { (s, dir) =>
    import graft.operators.Eval
    val emb = t(s, dir, "embeddings")
    val path = s"${gateModelDir(dir, "e05")}/mean_vecs"
    // coalesce(1): 2·dims rows — bounded model artifact
    graft.sim.ModelStore.save(
      Eval.meanVectors(emb, col("embedding"), col("vec_id") % 2 === 0)
        .coalesce(1),
      "mean_vecs", path)
    Eval.embedDrift(graft.sim.ModelStore.load(s, "mean_vecs", path),
        topK = e05TopK)
      .orderBy("kind", "i")
  }(
      // e05: everything downstream of the exported mean vectors —
      // deltas, the top-k drifted dims (|delta| DESC, i ASC), the
      // ascending-i folded L2/cosine — re-derived from the model parquet
      // with the dotD accumulation order.
      s"""WITH m AS (SELECT pop, i, w
             FROM read_parquet(${modelGlob("e05", "mean_vecs")})),
         d AS (SELECT a.i, a.w AS w_a, b.w AS w_b, a.w - b.w AS delta
           FROM (SELECT i, w FROM m WHERE pop = 'a') a
           JOIN (SELECT i, w FROM m WHERE pop = 'b') b USING (i)),
         dims AS (SELECT 'dim' AS kind, CAST(i AS BIGINT) AS i,
             delta AS v
           FROM d ORDER BY abs(delta) DESC, i ASC
           LIMIT ${e05TopK}),
         s AS (SELECT
             sqrt(list_reduce(list(delta*delta ORDER BY i),
               (x, y) -> x + y)) AS l2,
             list_reduce(list(w_a*w_b ORDER BY i), (x, y) -> x + y) /
               (sqrt(list_reduce(list(w_a*w_a ORDER BY i),
                  (x, y) -> x + y)) *
                sqrt(list_reduce(list(w_b*w_b ORDER BY i),
                  (x, y) -> x + y))) AS cos
           FROM d)
         SELECT kind, i, v FROM (
           SELECT * FROM dims
           UNION ALL SELECT 'stat', CAST(-1 AS BIGINT), l2 FROM s
           UNION ALL SELECT 'stat', CAST(-2 AS BIGINT), cos FROM s)
         ORDER BY kind, i""")

  /** Incremental AUC maintenance (q45's Ivm discipline applied to an
    * EVALUATION statistic): the per-score counts frame is a mergeable
    * monoid, so the base state persists (ModelStore "auc_state",
    * bounded by the score grid) and each delta folds in at
    * O(|delta| + |grid|) — the evaluation never rescans the base.
    * The FULL DuckDB oracle recomputes the statistic from the whole
    * table: a hash match IS the incremental == full-recompute
    * invariant, with `n_scores` pinning the bounded state size. */
  gate("e04_incr_auc") { (s, dir) =>
    import graft.operators.Eval
    val docs = t(s, dir, "documents")
    def st(f: DataFrame): DataFrame =
      Eval.aucState(f, TextOps.wordCount(col("text")),
        col("lang") === "en")
    val statePath = s"${gateModelDir(dir, "e04")}/auc_state"
    // coalesce(1): |score grid| rows — bounded state artifact
    graft.sim.ModelStore.save(
      st(docs.filter(col("doc_id") % 4 =!= 3)).coalesce(1),
      "auc_state", statePath)
    Eval.aucFromState(Eval.aucMergeStates(
      graft.sim.ModelStore.load(s, "auc_state", statePath),
      st(docs.filter(col("doc_id") % 4 === 3))))
  }(
      // e04: the incremental == full-recompute invariant — the oracle
      // recomputes the AUC from the WHOLE table (q45's discipline), so a
      // hash match proves state persist + delta merge lost nothing;
      // n_scores pins the bounded state size.
      s"""WITH b AS (SELECT $wordCountSql AS s, (lang = 'en') AS y
             FROM documents),
         c AS (SELECT s, COUNT(*) AS n_s,
             CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p_s
           FROM b GROUP BY 1),
         w AS (SELECT s, n_s, p_s,
             COALESCE(CAST(SUM(n_s) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS cumb
           FROM c),
         a AS (SELECT
             CAST(SUM(p_s * (2*cumb + n_s + 1)) AS BIGINT) AS two_r,
             CAST(SUM(p_s) AS BIGINT) AS n_pos,
             CAST(SUM(n_s) AS BIGINT) AS n,
             COUNT(*) AS n_scores FROM w)
         SELECT n_pos, n - n_pos AS n_neg, n_scores,
           two_r - n_pos*(n_pos+1) AS auc_num,
           2*n_pos*(n-n_pos) AS auc_den,
           CAST(two_r - n_pos*(n_pos+1) AS DOUBLE) /
             CAST(2*n_pos*(n-n_pos) AS DOUBLE) AS auc
         FROM a""")
}
