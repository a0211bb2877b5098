package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Evaluation & drift statistics for corpus QA — the measurement half
  * of a training-data pipeline: is the quality signal actually
  * discriminative (ROC AUC), did the source mix shift between two
  * populations (chi-squared homogeneity), did a value distribution
  * move (two-sample Kolmogorov–Smirnov)? The reference reports plain
  * counts per dimension (kcidb-count, kcidb/__init__.py:284-301,
  * and the status rollups); these are the statistics a corpus
  * operator derives FROM those counts before acting on a filter or a
  * mixture change.
  *
  * Design rule shared by all three: the corpus collapses to a
  * map-side-combined COUNTS FRAME first (one row per distinct
  * score/value/key — bounded by the value grid, not the corpus), and
  * every downstream number is EXACT INTEGER arithmetic on those
  * counts until one final correctly-rounded IEEE division. No
  * transcendentals, no order-dependent double sums: cumulative terms
  * come from a deterministic sorted-array fold inside ONE aggregate
  * row (never a global single-partition window), so the DuckDB oracle
  * reproduces every emitted value bit-for-bit from any algebraically
  * equivalent formulation.
  *
  * 100 TB posture: the only corpus-sized stage in each statistic is
  * the counts groupBy (partial-aggregated). The fold state is one
  * sorted array of the distinct-value grid; for unbounded-cardinality
  * scores a caller quantizes first (the k02/t08 histogram discipline —
  * the gates here use integer token counts and 2-dp event values,
  * whose grids saturate regardless of corpus size).
  */
object Eval {

  /** Exact tie-aware ROC AUC via the Mann–Whitney U statistic with
    * midranks (Hanley & McNeil 1982): one row with `n_pos`, `n_neg`,
    * `auc_num` = 2·U (integer), `auc_den` = 2·n_pos·n_neg, and
    * `auc` = num/den (one exact division). Higher `score` predicting
    * `label` = true gives auc > 0.5. Ties get the midrank, so the
    * result equals the trapezoidal area under the ROC curve exactly.
    *
    * Per distinct score s (ascending): each positive's doubled
    * midrank is 2·cum_before(s) + n_s + 1, so
    * 2·ΣR⁺ = Σ_s p_s·(2·cum_before + n_s + 1) and
    * 2·U = 2·ΣR⁺ − n_pos·(n_pos+1) — all int64 (≤ 2·n² ≈ 5e11 at the
    * 10x probe scale). */
  def aucExact(df: DataFrame, score: Column, label: Column): DataFrame =
    aucFromState(aucState(df, score, label))
      .drop("n_scores")

  /** Mergeable AUC state: the per-score counts frame (s, n_s, p_s) —
    * a commutative monoid under per-score addition (the Ivm
    * discipline applied to an evaluation statistic), bounded by the
    * score grid at ANY corpus size. Persist it, merge each delta's
    * fresh state in with [[aucMergeStates]], and [[aucFromState]]
    * re-derives the exact statistic from |grid| rows — the 100 TB
    * evaluation refresh never rescans the base. */
  def aucState(df: DataFrame, score: Column, label: Column): DataFrame =
    df.select(score.cast("long").as("s"), label.cast("boolean").as("y"))
      .where(col("s").isNotNull && col("y").isNotNull)
      .groupBy("s")
      .agg(count(lit(1)).as("n_s"),
        sum(when(col("y"), 1L).otherwise(0L)).as("p_s"))

  /** Merge two AUC state frames (persisted base ⊎ delta partials):
    * integer count addition per score — associative, commutative,
    * partitioning-invariant, so chunked maintenance equals the
    * one-shot state exactly. */
  def aucMergeStates(state: DataFrame, delta: DataFrame): DataFrame = {
    for (f <- Seq(state, delta); c <- Seq("s", "n_s", "p_s"))
      require(f.columns.contains(c),
        s"Eval.aucMergeStates: missing state column '$c' " +
          s"(has: ${f.columns.mkString(", ")})")
    state.select("s", "n_s", "p_s")
      .unionByName(delta.select("s", "n_s", "p_s"))
      .groupBy("s")
      .agg(sum("n_s").cast("long").as("n_s"),
        sum("p_s").cast("long").as("p_s"))
  }

  /** The AUC finisher over a state frame: one fold row, plus
    * `n_scores` (the state's own size — the bounded-state evidence a
    * maintenance gate reports). */
  def aucFromState(counts: DataFrame): DataFrame = {
    val g = counts.agg(
      array_sort(collect_list(struct(col("s"), col("n_s"), col("p_s"))))
        .as("grid"),
      sum("n_s").as("n"), sum("p_s").as("n_pos"),
      count(lit(1)).as("n_scores"))
    g.select(
        col("n_pos"), (col("n") - col("n_pos")).as("n_neg"),
        col("n_scores"),
        (aggregate(col("grid"),
          struct(lit(0L).as("cum"), lit(0L).as("two_r")),
          (a, x) => struct(
            (a("cum") + x("n_s")).as("cum"),
            (a("two_r") + x("p_s") *
              (lit(2L) * a("cum") + x("n_s") + lit(1L))).as("two_r")),
          a => a("two_r"))
          - col("n_pos") * (col("n_pos") + lit(1L))).as("auc_num"),
        (lit(2L) * col("n_pos") * (col("n") - col("n_pos"))).as("auc_den"))
      .withColumn("auc",
        col("auc_num").cast("double") / col("auc_den").cast("double"))
  }

  /** Precision–recall curve + average precision (AP — the PR-space
    * AUC; step interpolation, the `average_precision_score` semantics;
    * Davis & Goadrich 2006 on why PR beats ROC under class
    * imbalance — exactly the regime of a rare-quality-label corpus):
    * thresholds descend the distinct-score grid; at each threshold
    * everything scoring >= s is predicted positive, giving exact
    * integer TP/FP from the SAME counts frame [[aucExact]] uses,
    * precision and recall as ONE correctly-rounded division each, the
    * AP contribution ΔR·P = (p_s·TP)/(n_pos·(TP+FP)) likewise, and
    * the total AP as a descending-threshold array fold (ONE
    * deterministic accumulation order — the chi2/KS discipline).
    * Output: one `point` row per distinct score + one `total` row
    * whose `term` is AP.
    *
    * Guards: a one-class input raises loudly (AP degenerate), the
    * [[chi2FromCells]] rule. Scale: the corpus collapses to the
    * score-grid counts frame in one partial aggregate; everything
    * after is |grid|-row work (the [[aucState]] bounded-state
    * posture — |grid|² slice sums on a bounded grid, never a
    * corpus-sized window). */
  def prCurve(df: DataFrame, score: Column, label: Column): DataFrame = {
    val g = aucState(df, score, label).agg(
        reverse(array_sort(collect_list(struct(col("s"), col("n_s"),
          col("p_s"))))).as("grid"),
        sum("n_s").as("n"), sum("p_s").as("n_pos"))
      .withColumn("n_pos", when(col("n_pos") > 0 &&
        col("n_pos") < col("n"), col("n_pos")).otherwise(raise_error(
        concat(lit("Eval.prCurve: both classes must be present — " +
          "average precision is degenerate on a one-class input")))))
    val pts = g.select(col("n_pos"),
      explode(transform(col("grid"), (x, i) => struct(
        x("s").as("s"), x("p_s").as("d_tp"),
        aggregate(slice(col("grid"), lit(1), i + lit(1)), lit(0L),
          (a, y) => a + y("p_s")).as("tp"),
        aggregate(slice(col("grid"), lit(1), i + lit(1)), lit(0L),
          (a, y) => a + y("n_s")).as("seen")))).as("pt"))
    // |grid|-row frame, memoized (the q46 discipline) so the total
    // branch folds these rows instead of re-running the corpus counts
    val points = pts.select(lit("point").as("kind"),
      col("pt.s").as("s"), col("pt.d_tp").as("d_tp"),
      col("pt.tp").as("tp"), (col("pt.seen") - col("pt.tp")).as("fp"),
      col("n_pos"),
      (col("pt.tp").cast("double") / col("pt.seen").cast("double"))
        .as("precision"),
      (col("pt.tp").cast("double") / col("n_pos").cast("double"))
        .as("recall"),
      ((col("pt.d_tp") * col("pt.tp")).cast("double") /
        (col("n_pos") * col("pt.seen")).cast("double")).as("term"))
      .localCheckpoint()
    val total = points.agg(
        aggregate(reverse(array_sort(collect_list(struct(col("s"),
          col("term"))))), lit(0.0), (a, x) => a + x("term")).as("term"),
        sum("d_tp").as("tp"), max("fp").as("fp"),
        max("n_pos").as("n_pos"))
      .select(lit("total").as("kind"), lit(-1L).as("s"),
        lit(0L).as("d_tp"), col("tp"), col("fp"), col("n_pos"),
        lit(0.0).as("precision"), lit(0.0).as("recall"), col("term"))
    points.unionByName(total)
  }

  /** Chi-squared homogeneity drift between two populations (`inA` vs
    * not) over a categorical `key`: per key, the observed counts and
    * the key's additive chi-squared contribution
    * Σ_w (O_w − E_w)²/E_w with E_w = n_w·ct/N under homogeneity —
    * plus one `total` row carrying the full statistic (df = k−1).
    * The drift monitor a pipeline runs between two corpus snapshots
    * or time windows: the `cell` rows NAME the drifted keys, the
    * `total` row gates the alert.
    *
    * Exactness: each per-window term is
    * (O·N − n_w·ct)² / (n_w·ct·N) — integer numerator squared in
    * decimal(38,0) (int64 would overflow past ~3e9 margin counts),
    * one division of two exact casts, and the two windows summed in
    * the fixed a-then-b order. The total is a key-sorted array fold,
    * so the global double accumulates in ONE deterministic order. */
  def chi2Drift(df: DataFrame, key: Column, inA: Column): DataFrame =
    chi2FromCells(chi2Cells(df, key, inA))

  /** The observed-counts frame (k, o_a, o_b) the chi-squared statistic
    * derives from — one map-side-combined aggregate, |keys| rows of
    * state. Split out so a STREAMING query can maintain the same cells
    * in the state store (counting is order-insensitive, so a drained
    * stream state equals the batch counts bit-for-bit) and feed the
    * identical finisher. */
  def chi2Cells(df: DataFrame, key: Column, inA: Column): DataFrame =
    df.select(key.as("k"), inA.cast("boolean").as("a"))
      .where(col("k").isNotNull && col("a").isNotNull)
      .groupBy("k")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("o_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("o_b"))

  /** The chi-squared finisher over a cells frame — see [[chi2Drift]]
    * for the exactness contract. */
  def chi2FromCells(cells: DataFrame): DataFrame = {
    for (c <- Seq("k", "o_a", "o_b"))
      require(cells.columns.contains(c),
        s"Eval.chi2FromCells: missing cells column '$c' " +
          s"(has: ${cells.columns.mkString(", ")})")
    val tot = cells.agg(sum("o_a").as("n_a"), sum("o_b").as("n_b"))
    // 1-row totals zip — the p08/t05 declared scalar-broadcast class.
    // Degenerate input (one population empty) guards LOUDLY: every
    // chi-squared term divides by nw·ct·n, so a zero population total
    // would silently turn the whole frame Infinity/NaN downstream.
    val z = cells.crossJoin(broadcast(tot))
      .withColumn("n_a", when(col("n_a") > 0, col("n_a")).otherwise(
        raise_error(concat(lit("Eval.chi2FromCells: population A is " +
          "empty — chi-squared is undefined on a one-population input")))))
      .withColumn("n_b", when(col("n_b") > 0, col("n_b")).otherwise(
        raise_error(concat(lit("Eval.chi2FromCells: population B is " +
          "empty — chi-squared is undefined on a one-population input")))))
    def term(o: Column, nw: Column): Column = {
      val ct = col("o_a") + col("o_b")
      val n = col("n_a") + col("n_b")
      val diff = (o * n - nw * ct).cast("decimal(19,0)")
      (diff * diff).cast("double") /
        (nw.cast("decimal(19,0)") * ct * n).cast("double")
    }
    // |keys|-row frame, memoized (the q46 discipline) so the total
    // branch reads it instead of re-running the corpus counts — and
    // the published plan carries no join at all
    val perKey = z.select(lit("cell").as("kind"), col("k"),
      col("o_a"), col("o_b"),
      (term(col("o_a"), col("n_a")) + term(col("o_b"), col("n_b")))
        .as("term"))
      .localCheckpoint()
    val total = perKey.agg(
        aggregate(array_sort(collect_list(struct(col("k"), col("term")))),
          lit(0.0), (acc, x) => acc + x("term")).as("term"),
        sum("o_a").as("o_a"), sum("o_b").as("o_b"))
      .select(lit("total").as("kind"), lit("").as("k"),
        col("o_a"), col("o_b"), col("term"))
    perKey.unionByName(total)
  }

  /** Calibration / reliability profile of a [0,1] prediction against a
    * boolean label — the eval-family member that asks "do predicted
    * probabilities MEAN their number?" (reliability diagram bins +
    * Brier score, Brier 1950; the per-bin avg-prediction vs observed
    * rate gap is Murphy's reliability term): `bins` equal-width bins
    * with per-bin n / mean prediction / positive rate / Brier, plus
    * one `total` row carrying the overall Brier score.
    *
    * EXACTNESS CONTRACT: the prediction arrives as an integer
    * numerator over 2^`pDenLog2` (a binary fraction), so every p,
    * (p − y) and (p − y)² is an exact IEEE double and every SUM of
    * them is exact — order-independent across engines and partitions —
    * until the final correctly-rounded 6-dp divisions; the bin index
    * is pure integer arithmetic (num·bins div 2^k, top edge clamped
    * into the last bin). One map-side-combined groupBy is the only
    * corpus-sized stage; the bins-row frame is memoized (the q46
    * discipline) so the total row reads partials, not the corpus. */
  def calibrationBins(df: DataFrame, pNum: Column, pDenLog2: Int,
                      label: Column, bins: Int = 10): DataFrame = {
    require(pDenLog2 > 0 && pDenLog2 < 30 && bins > 0,
      s"calibrationBins: bad knobs ($pDenLog2, $bins)")
    val den = (1L << pDenLog2).toDouble
    val p = pNum.cast("long").cast("double") / den
    val y = when(label.cast("boolean"), 1.0).otherwise(0.0)
    // Column `/` is IEEE division even on longs — floor-cast makes it
    // the integer division the contract states (exact: num·bins/2^k is
    // a binary fraction, so the floor is the true integer quotient)
    val bin = least(
      floor(pNum.cast("long") * bins / (1L << pDenLog2).toLong)
        .cast("long"),
      lit(bins - 1L))
    val perBin = df
      .select(bin.as("bin"), p.as("p"), y.as("y"),
        when(label.cast("boolean"), 1L).otherwise(0L).as("pos"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("p")).as("sum_p"),
        sum(col("pos")).as("n_pos"),
        sum((col("p") - col("y")) * (col("p") - col("y")))
          .as("brier_sum"))
      .localCheckpoint()
    val binRows = perBin.select(lit("bin").as("kind"), col("bin"),
      col("n"), round(col("sum_p") / col("n"), 6).as("avg_p"),
      col("n_pos"),
      round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
      round(col("brier_sum") / col("n"), 6).as("brier"))
    val total = perBin
      .agg(sum("n").as("n"), sum("sum_p").as("sum_p"),
        sum("n_pos").as("n_pos"), sum("brier_sum").as("bs"))
      .select(lit("total").as("kind"), lit(-1L).as("bin"), col("n"),
        round(col("sum_p") / col("n"), 6).as("avg_p"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n"), 6).as("pos_rate"),
        round(col("bs") / col("n"), 6).as("brier"))
    binRows.unionByName(total)
  }

  /** Per-population per-dimension mean vectors over an embedding
    * column — the embedding-drift FIT (population `a` = `inA`, `b` =
    * the complement). The mean is an engine-order double average (the
    * one non-SQL-portable step, s06's class), so a gate persists this
    * frame via ModelStore kind "mean_vecs" and everything downstream
    * re-derives from the export. One explode + map-side-combined
    * aggregate; the result is 2·dims rows at ANY corpus size. */
  def meanVectors(df: DataFrame, vecCol: Column, inA: Column): DataFrame =
    df.select(when(inA.cast("boolean"), lit("a")).otherwise(lit("b"))
        .as("pop"), posexplode(vecCol))
      .groupBy(col("pop"), col("pos").as("i"))
      .agg(avg(col("col").cast("double")).as("w"))
      .select("pop", "i", "w")

  /** Embedding-space drift report from a persisted mean-vector frame:
    * the top-`topK` dimensions by |Δmean| (`kind` = dim, tie-broken by
    * dimension index) plus `stat` rows — L2 distance (i = −1) and
    * cosine (i = −2) between the two population means. Every number
    * derives from the LOADED model with pinned-order arithmetic:
    * deltas and products are single IEEE ops on exported doubles, the
    * reductions fold in ascending dimension order (the dotD
    * discipline), sqrt and the final division are correctly rounded —
    * so the DuckDB oracle reproduces the report bit-for-bit from the
    * same parquet. */
  def embedDrift(means: DataFrame, topK: Int): DataFrame = {
    for (c <- Seq("pop", "i", "w"))
      require(means.columns.contains(c),
        s"Eval.embedDrift: missing model column '$c' " +
          s"(has: ${means.columns.mkString(", ")})")
    val byDim = means.groupBy("i").agg(
      max(when(col("pop") === "a", col("w"))).as("w_a"),
      max(when(col("pop") === "b", col("w"))).as("w_b"))
    val d = byDim.select(col("i"), col("w_a"), col("w_b"),
      (col("w_a") - col("w_b")).as("delta"))
    val dims = d.orderBy(abs(col("delta")).desc, col("i").asc)
      .limit(topK)
      .select(lit("dim").as("kind"), col("i").cast("long").as("i"),
        col("delta").as("v"))
    val folded = d.agg(array_sort(collect_list(
        struct(col("i"), col("delta"), col("w_a"), col("w_b")))).as("g"))
      .select(
        sqrt(aggregate(col("g"), lit(0.0),
          (a, x) => a + x("delta") * x("delta"))).as("l2"),
        (aggregate(col("g"), lit(0.0),
          (a, x) => a + x("w_a") * x("w_b")) /
          (sqrt(aggregate(col("g"), lit(0.0),
            (a, x) => a + x("w_a") * x("w_a"))) *
           sqrt(aggregate(col("g"), lit(0.0),
             (a, x) => a + x("w_b") * x("w_b"))))).as("cos"))
    val stats = folded.select(lit("stat").as("kind"), lit(-1L).as("i"),
        col("l2").as("v"))
      .unionByName(folded.select(lit("stat").as("kind"),
        lit(-2L).as("i"), col("cos").as("v")))
    dims.unionByName(stats)
  }

  /** Poisson(1) CDF thresholds scaled to 2^60 —
    * floor(P(X ≤ k)·2^60) for k = 0..6, computed once at 60-digit
    * precision and pinned as integer constants so BOTH engines draw
    * the identical weight from the identical 60-bit md5 coin (the
    * [[graft.pack.Pack.integerDraw]] convention — no transcendental
    * evaluation happens at query time on either engine). A draw u
    * maps to weight = #{k : u ≥ T_k} ∈ [0, 7]: the capped-at-7
    * Poisson(1) (P(X > 7) ≈ 1.0e-5 — the truncation shifts the
    * expected replicate mass by < 2.6e-5, a stated semantic of the
    * operator, not an approximation the oracle forgives). */
  val poissonCdf60: Seq[Long] = Seq(
    424136118829305329L, 848272237658610659L, 1060340297073263324L,
    1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
    1152825534095764625L)

  /** The threshold fold shared by both coins: weight = how many CDF
    * thresholds the 60-bit draw `u` clears. Pure per-row integer
    * comparisons — zero state. */
  def poissonWeightFromU(u: Column): Column =
    poissonCdf60.map(t => when(u >= t, 1L).otherwise(0L))
      .reduce(_ + _)

  /** The deterministic capped Poisson(1) draw behind
    * [[poissonBootstrap]]: weight = how many CDF thresholds the
    * row's 60-bit coin clears. Pure per-row integer comparisons —
    * zero state, engine-portable by the md5/hex contract. */
  def poissonWeight(seed: String, key: Column): Column =
    poissonWeightFromU(graft.pack.Pack.integerDraw(seed, key))

  /** The xxhash64 60-bit coin — [[graft.pack.Pack.integerDraw]]'s
    * cheap sibling for draw grids where the md5 digest IS the work
    * (the bootstrap explodes the corpus ×B and draws one coin per
    * (row, replicate): at 64 replicates the md5 leg measured linear
    * with a draw-dominated constant, BENCHLOG r18). One XXH64 chain
    * over (seed string, key columns) replaces string-concat + md5 +
    * hex + conv: `xxhash64(seed, cols…) & (2^60−1)` — the mask keeps
    * the 60-bit [[Eval.poissonCdf60]] threshold convention unchanged,
    * and XXH64's finalizer avalanches the low bits, so the masked
    * coin is as uniform as the digest's.
    *
    * Oracle contract: Spark's xxhash64 folds columns left-to-right, so
    * the draw is `hashLong(b, hashLong(id, hashUTF8String(seed, 42)))`,
    * the string stage is a per-plan CONSTANT (computed by the oracle's
    * own engine-free XXH64 and interpolated into its SQL), and DuckDB
    * replays only the two hashLong stages in wrapping u64 HUGEINT
    * arithmetic (validated mismatch-free against XXH64 on boundary
    * longs; EvalSpec pins the Scala twin against the live expression). */
  def integerDrawXx(seed: String, cols: Column*): Column =
    xxhash64((lit(seed) +: cols): _*)
      .bitwiseAND(lit((1L << 60) - 1))

  /** [[poissonWeight]] on the xxhash64 coin: the production draw for
    * the bootstrap grid (e08/st15 gates since r19). */
  def poissonWeightXx(seed: String, id: Column, b: Column): Column =
    poissonWeightFromU(integerDrawXx(seed, id, b))

  /** Poisson-bootstrap confidence interval for a corpus mean (the
    * bootstrap that actually runs at 100 TB — Chamandy et al. 2012,
    * "Estimating Uncertainty for Massive Data Streams": resampling
    * WITH replacement needs corpus-sized coordination, but each row's
    * multiplicity in replicate b is ≈ independent Poisson(1), so ONE
    * scan emits every (replicate, weight·value) partial and the
    * corpus never materializes per replicate):
    * `replicates` deterministic md5-coin replicates over an INTEGER
    * `value`, each replicate's weighted sum/count exact int64, its
    * mean one correctly-rounded division; the CI is a nearest-rank
    * pick over the sorted replicate means (order statistics `loRank`
    * / `hiRank`, 1-indexed, ties broken by replicate id — a PICK,
    * never an interpolation, so the emitted doubles are bit-exact).
    *
    * Output: one `rep` row per replicate (b, n_eff = Σw,
    * wsum = Σw·v, mean), one `total` row (b = −1: the exact corpus
    * n / Σv / mean — the point estimate the CI brackets), and
    * `ci_lo` / `ci_hi` rows carrying the picked replicates verbatim.
    *
    * Scale shape: the ONLY corpus-sized stage is the scan exploded
    * ×`replicates` feeding a map-side-combined groupBy to
    * `replicates` rows of state (B partial sums per executor — the
    * sketch-family posture); the sort/pick runs on the B-row frame.
    * Weighted sums stay int64 up to Σw·v ≈ 7·B·Σv — past that a
    * caller quantizes the value the way k02's histogram does. An
    * empty replicate (possible only on a toy corpus) raises loudly
    * rather than emitting a NaN mean. */
  def poissonBootstrap(df: DataFrame, id: Column, value: Column,
      replicates: Int, seed: String, loRank: Int,
      hiRank: Int, xxDraw: Boolean = false): DataFrame = {
    require(hiRank <= replicates,
      s"poissonBootstrap: hiRank $hiRank exceeds $replicates replicates")
    bootstrapFromReps(
      bootstrapReps(df, id, value, replicates, seed, xxDraw),
      loRank, hiRank)
  }

  /** The bootstrap's mergeable STATE half: per-replicate (b, n_eff =
    * Σw, wsum = Σw·v) integer partials, PLUS the sentinel replicate
    * b = −1 whose weight is the constant 1 — its row carries the
    * exact corpus (n, Σv), so ONE aggregate holds both the replicate
    * grid and the point estimate. Counting is order-insensitive and
    * the state is `replicates`+1 rows at ANY corpus size, so a
    * STREAMING query maintains the identical frame in the state store
    * (the chi2Cells discipline) and feeds the same finisher. */
  def bootstrapReps(df: DataFrame, id: Column, value: Column,
      replicates: Int, seed: String,
      xxDraw: Boolean = false): DataFrame = {
    require(replicates > 1,
      s"bootstrapReps: need at least 2 replicates: $replicates")
    // the coin knob: md5 keeps the historical digest convention
    // (string key "id|b"); xxDraw hashes (seed, id, b) natively —
    // identical threshold fold, ~4× cheaper per draw, and the grid's
    // the only place the per-draw constant matters (B coins per row)
    val w =
      if (xxDraw) poissonWeightXx(seed, col("id"), col("b"))
      else poissonWeight(seed, concat(col("id").cast("string"),
        lit("|"), col("b").cast("string")))
    df.select(id.cast("long").as("id"), value.cast("long").as("v"))
      .where(col("id").isNotNull && col("v").isNotNull)
      .select(col("id"), col("v"),
        explode(sequence(lit(-1L), lit(replicates - 1L))).as("b"))
      .select(col("b"),
        when(col("b") === -1L, lit(1L)).otherwise(w).as("w"),
        col("v"))
      .groupBy("b")
      .agg(sum("w").as("n_eff"), sum(col("w") * col("v")).as("wsum"))
  }

  /** The bootstrap finisher over a (drained or batch) reps frame —
    * see [[poissonBootstrap]] for the output contract. */
  def bootstrapFromReps(repsIn: DataFrame, loRank: Int,
      hiRank: Int): DataFrame = {
    for (c <- Seq("b", "n_eff", "wsum"))
      require(repsIn.columns.contains(c),
        s"Eval.bootstrapFromReps: missing reps column '$c' " +
          s"(has: ${repsIn.columns.mkString(", ")})")
    require(loRank >= 1 && loRank < hiRank,
      s"bootstrapFromReps: bad ranks ($loRank, $hiRank)")
    val withMean = repsIn
      .withColumn("n_eff", when(col("n_eff") > 0, col("n_eff"))
        .otherwise(raise_error(concat(lit(
          "Eval.bootstrapFromReps: replicate "), col("b"), lit(
          " drew zero total weight — corpus too small to bootstrap")))))
      .withColumn("mean",
        col("wsum").cast("double") / col("n_eff").cast("double"))
      // (replicates+1)-row frame, memoized (the q46 discipline): the
      // rep rows, the total and the CI picks all read it — the corpus
      // aggregate runs once
      .localCheckpoint()
    val reps = withMean.where(col("b") >= 0)
    val repRows = reps.select(lit("rep").as("kind"), col("b"),
      col("n_eff"), col("wsum"), col("mean"))
    val total = withMean.where(col("b") === -1L)
      .select(lit("total").as("kind"), col("b"), col("n_eff"),
        col("wsum"), col("mean"))
    val sorted = reps.agg(array_sort(collect_list(struct(col("mean"),
      col("b"), col("n_eff"), col("wsum")))).as("g"))
    def pick(kind: String, rank: Int) = sorted
      .select(when(size(col("g")) >= rank, element_at(col("g"), rank))
        .otherwise(raise_error(concat(lit(
          s"Eval.bootstrapFromReps: rank $rank exceeds the "),
          size(col("g")), lit(" replicates present")))).as("p"))
      .select(lit(kind).as("kind"), col("p.b").as("b"),
        col("p.n_eff").as("n_eff"), col("p.wsum").as("wsum"),
        col("p.mean").as("mean"))
    repRows.unionByName(total)
      .unionByName(pick("ci_lo", loRank))
      .unionByName(pick("ci_hi", hiRank))
  }

  /** Exact tie-aware Spearman rank correlation between two INTEGER
    * signals (Spearman 1904 with midranks — the monotone-association
    * check a pipeline runs before trusting one quality signal as a
    * proxy for another): ranks arrive as DOUBLED midranks
    * 2r(v) = 2·cum_before(v) + n_v + 1 (integers — the [[aucExact]]
    * identity applied to both marginals), every moment sum
    * Σn·2r, Σn·(2r)², Σn·2rx·2ry accumulates in exact decimal(38,0),
    * and ρ = (n·Sxy − Sx·Sy) / (√(n·Sxx − Sx²)·√(n·Syy − Sy²)) is a
    * stated chain of single casts/sqrts/one division — so the DuckDB
    * oracle reproduces every emitted value bit-for-bit.
    *
    * Output: one row with n, the six moment sums (each one exact
    * decimal surfaced by a single cast to double), and `rho`.
    * Degenerate marginals (a constant signal — zero variance) raise
    * loudly rather than emitting NaN, the [[chi2FromCells]] rule.
    *
    * Scale shape: the corpus collapses to the (x, y) pair-counts
    * frame in ONE map-side-combined aggregate; marginal rank frames
    * fold on the bounded value grids (the [[aucFromState]] posture);
    * the rank join-back is grid-sized, never corpus-sized. */
  def spearmanExact(df: DataFrame, x: Column, y: Column): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val pc = df.select(x.cast("long").as("x"), y.cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
      .groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      .localCheckpoint()
    def ranks(k: String) = pc.groupBy(col(k).as("v"))
      .agg(sum("n_xy").as("nv"))
      .agg(array_sort(collect_list(struct(col("v"), col("nv"))))
        .as("g"))
      .select(explode(transform(col("g"), (e, i) => struct(
        e("v").as("v"),
        (lit(2L) * aggregate(slice(col("g"), lit(1), i), lit(0L),
          (a, z) => a + z("nv")) + e("nv") + lit(1L)).as("r2"))))
        .as("p"))
      .select(col("p.v").as(k), col("p.r2").as(s"r2$k"))
    val j = pc.join(ranks("x"), "x").join(ranks("y"), "y")
    val sums = j.agg(
      sum(col("n_xy")).cast(d38).as("n"),
      sum(col("n_xy").cast(d38) * col("r2x")).as("sx"),
      sum(col("n_xy").cast(d38) * col("r2y")).as("sy"),
      sum(col("n_xy").cast(d38) * col("r2x") * col("r2x")).as("sxx"),
      sum(col("n_xy").cast(d38) * col("r2y") * col("r2y")).as("syy"),
      sum(col("n_xy").cast(d38) * col("r2x") * col("r2y")).as("sxy"))
    val denx = (col("n") * col("sxx") - col("sx") * col("sx"))
      .cast("double")
    val deny = (col("n") * col("syy") - col("sy") * col("sy"))
      .cast("double")
    sums.select(col("n").cast("long").as("n"),
        col("sx").cast("double").as("sx"),
        col("sy").cast("double").as("sy"),
        col("sxx").cast("double").as("sxx"),
        col("syy").cast("double").as("syy"),
        col("sxy").cast("double").as("sxy"),
        (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("double").as("num"),
        when(denx > 0, denx).otherwise(raise_error(lit(
          "Eval.spearmanExact: x has zero rank variance — " +
            "correlation is undefined on a constant signal"))).as("dx"),
        when(deny > 0, deny).otherwise(raise_error(lit(
          "Eval.spearmanExact: y has zero rank variance — " +
            "correlation is undefined on a constant signal"))).as("dy"))
      .select(col("n"), col("sx"), col("sy"), col("sxx"), col("syy"),
        col("sxy"), col("num"),
        (col("num") / (sqrt(col("dx")) * sqrt(col("dy")))).as("rho"))
  }

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical labelings (Cohen 1960; the did-my-classifier-really-
    * learn check next to a raw confusion matrix: accuracy flatters a
    * skewed corpus, kappa subtracts what label marginals agree on by
    * chance): per-class rows with exact prediction/truth totals, the
    * diagonal count, and the class's chance-agreement contribution
    * pe_i = n_pred·n_true, plus one `total` row with
    *
    *   κ = (n·Σdiag − Σ pe_i) / (n² − Σ pe_i)
    *
    * — ALL integer until the one division (numerator and denominator
    * carried in decimal(38,0), with Σpe RE-MULTIPLIED in decimal so
    * the identity genuinely survives row counts past √int64; the
    * emitted per-class/total pe COLUMNS stay int64 and are exact only
    * up to ~3e9-per-class marginals — the bootstrapReps
    * documented-bound rule, and where the DuckDB twin raises on
    * BIGINT overflow). A degenerate marginal (n² = Σpe: both
    * labelings constant) raises loudly, the [[chi2FromCells]] rule.
    *
    * Scale shape: ONE map-side-combined groupBy to the
    * |classes|²-bounded confusion frame is the only corpus-sized
    * stage; totals/joins are class-count work. */
  def cohensKappa(df: DataFrame, pred: Column,
      truth: Column): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val cm = df.select(pred.cast("string").as("p"),
        truth.cast("string").as("t"))
      .where(col("p").isNotNull && col("t").isNotNull)
      .groupBy("p", "t").agg(count(lit(1)).as("n_pt"))
      // |classes|²-row frame, memoized (the q46 discipline): every
      // branch below reads it — the corpus scans once
      .localCheckpoint()
    val classes = cm.select(col("p").as("label"))
      .unionByName(cm.select(col("t").as("label"))).distinct()
    val pTot = cm.groupBy(col("p").as("label"))
      .agg(sum("n_pt").as("n_pred"))
    val tTot = cm.groupBy(col("t").as("label"))
      .agg(sum("n_pt").as("n_true"))
    val diag = cm.where(col("p") === col("t"))
      .select(col("p").as("label"), col("n_pt").as("n_agree"))
    val byClass = classes
      .join(pTot, Seq("label"), "left")
      .join(tTot, Seq("label"), "left")
      .join(diag, Seq("label"), "left")
      .select(col("label"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("n_true"), lit(0L)).as("n_true"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
      .withColumn("pe", col("n_pred") * col("n_true"))
      .localCheckpoint()
    val classRows = byClass.select(lit("class").as("kind"),
      col("label"), col("n_pred"), col("n_true"), col("n_agree"),
      col("pe"), lit(0.0).as("kappa"))
    // Σpe re-multiplies in decimal(38,0) rather than summing the
    // per-class int64 pe column (ADVICE r16): n_pred·n_true wraps
    // int64 silently past ~3e9-per-class marginals in non-ANSI Spark,
    // so the kappa identity must never read the long product. The
    // EMITTED per-class/total pe columns stay int64 and carry that
    // ~3e9 per-class bound (the bootstrapReps documented-bound rule;
    // the DuckDB twin errors on BIGINT overflow at the same point).
    val agg = byClass.agg(sum("n_pred").as("n"),
      sum("n_agree").as("agree"),
      sum(col("n_pred").cast(d38) * col("n_true")).as("pe"))
    val den = (col("n").cast(d38) * col("n") - col("pe"))
    val total = agg.select(lit("total").as("kind"), lit("").as("label"),
      col("n").as("n_pred"), col("n").as("n_true"),
      col("agree").as("n_agree"), col("pe").cast("long").as("pe"),
      ((col("n").cast(d38) * col("agree") - col("pe")).cast("double") /
        when(den > 0, den).otherwise(raise_error(lit(
          "Eval.cohensKappa: degenerate marginals — both labelings " +
            "are constant, chance agreement is total"))).cast("double"))
        .as("kappa"))
    classRows.unionByName(total)
  }

  /** Population Stability Index between two populations' value
    * distributions (the industry-standard model-monitoring drift
    * score — the ML-ops companion to [[chi2Drift]]'s hypothesis test
    * and [[ks2Sample]]'s supremum: PSI > 0.25 is the classic
    * "retrain" alarm): values bin by EXACT INTEGER cent arithmetic
    * (2-dp value → cents via the decimal cast, bin = cents div
    * `binCents`, top bin clamped — no IEEE boundary hazards), each
    * population induces an add-`alpha`-smoothed distribution over ALL
    * `bins` bins (empty bins keep smoothing mass), and
    *
    *   PSI = Σ_bin (p_a − p_b)·ln(p_a/p_b)
    *
    * folds bin-ascending (the chi2/KS order discipline). Output: one
    * `bin` row per bin (exact counts, both smoothed densities, the
    * 6-dp term) + one `total` row with the 6-dp PSI (ln at 6 dp is
    * the t14/t25 libm precedent). Negative values and an empty
    * population raise loudly.
    *
    * Scale shape: ONE map-side-combined groupBy to ≤`bins` rows is
    * the only corpus-sized stage; densify/totals/fold are bin-count
    * work. */
  def psi(df: DataFrame, value: Column, inA: Column, bins: Int,
      binCents: Long, alpha: Double = 0.5): DataFrame = {
    require(bins > 1 && binCents > 0 && alpha > 0,
      s"psi: bad knobs ($bins, $binCents, $alpha)")
    val cnt = df.select(
        (graft.util.dec(value) * 100).cast("long").as("cents"),
        inA.cast("boolean").as("a"))
      .where(col("cents").isNotNull && col("a").isNotNull)
      .select(
        when(col("cents") >= 0,
          expr(s"least(cents div ${binCents}L, ${bins - 1}L)"))
          .otherwise(raise_error(lit(
            "Eval.psi: negative value — the cent binning contract " +
              "covers nonnegative 2-dp values only"))).as("bin"),
        col("a"))
      .groupBy("bin")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("c_b"))
    val tot = cnt.agg(sum("c_a").as("n_a"), sum("c_b").as("n_b"))
      .select(
        when(col("n_a") > 0, col("n_a")).otherwise(raise_error(lit(
          "Eval.psi: population A is empty"))).as("n_a"),
        when(col("n_b") > 0, col("n_b")).otherwise(raise_error(lit(
          "Eval.psi: population B is empty"))).as("n_b"))
    // densify over every bin, then the 1-row totals zip (p08 class)
    val dense = tot.select(col("n_a"), col("n_b"),
        explode(sequence(lit(0L), lit(bins - 1L))).as("bin"))
      .join(cnt, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"),
        ((coalesce(col("c_a"), lit(0L)) + lit(alpha)) /
          (col("n_a") + lit(alpha * bins))).as("p_a"),
        ((coalesce(col("c_b"), lit(0L)) + lit(alpha)) /
          (col("n_b") + lit(alpha * bins))).as("p_b"))
      .withColumn("t_raw",
        (col("p_a") - col("p_b")) * log(col("p_a") / col("p_b")))
      // bins-row frame, memoized (the q46 discipline)
      .localCheckpoint()
    val binRows = dense.select(lit("bin").as("kind"), col("bin"),
      col("c_a"), col("c_b"), col("p_a"), col("p_b"),
      round(col("t_raw"), 6).as("term"))
    val total = dense.agg(
        aggregate(array_sort(collect_list(struct(col("bin"),
          col("t_raw")))), lit(0.0), (a, x) => a + x("t_raw"))
          .as("psi"),
        sum("c_a").as("c_a"), sum("c_b").as("c_b"))
      .select(lit("total").as("kind"), lit(-1L).as("bin"),
        col("c_a"), col("c_b"), lit(0.0).as("p_a"), lit(0.0).as("p_b"),
        round(col("psi"), 6).as("term"))
    binRows.unionByName(total)
  }

  /** Mann–Whitney U two-sample test with tie correction (Mann &
    * Whitney 1947; the rank-based did-the-distribution-shift test
    * next to [[ks2Sample]]'s CDF supremum — more powerful against
    * location shifts, and the U statistic is [[aucExact]]'s numerator
    * wearing its hypothesis-test hat): one row with exact integer
    * `u2` = 2·U₁ = 2·ΣR₁ − n₁(n₁+1) and `mu2` = 2·μ = n₁·n₂ off the
    * same doubled-midrank fold, the tie-corrected variance in exact
    * rational form
    *
    *   Var = n₁·n₂·((n+1)·n·(n−1) − Σ(t³−t)) / (12·n·(n−1))
    *
    * (numerator and denominator exact decimal(38,0) — t³ passes int64
    * at probe scale), and z = (u2 − mu2) / (2·√Var) as a stated
    * cast/sqrt/divide chain, with the rank-sum fold and the u2 − mu2
    * difference carried in decimal(38,0) so z stays exact past the
    * int64 range of the EMITTED u2/mu2 columns (~2e9-per-side
    * populations — the cohensKappa documented-bound rule). All-tied
    * input (zero variance) raises loudly, the [[chi2FromCells]]
    * rule.
    *
    * Scale shape: the corpus collapses to the value-grid counts frame
    * in ONE map-side-combined aggregate (the [[aucState]] posture);
    * the fold runs on the bounded grid. */
  def mannWhitney(df: DataFrame, value: Column, inA: Column): DataFrame = {
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val g = twoPopulationGrid(df, value, inA,
      sum((col("c_a") + col("c_b")).cast(d38) *
        (col("c_a") + col("c_b")) * (col("c_a") + col("c_b")) -
        (col("c_a") + col("c_b")).cast(d38)).as("t_ties"))
    // the rank-sum accumulator runs in decimal(38,0), not int64
    // (ADVICE r16): 2·ΣR₁ ~ n_a·2n wraps a long past ~2e9-per-side
    // populations; the fold is grid-bounded so decimal costs nothing.
    // The EMITTED u2/mu2 columns stay int64 with that documented
    // bound (the cohensKappa pe rule) — but z below derives from the
    // decimal difference, so the test statistic itself stays exact
    // past the emitted columns' range.
    val folded = g.select(col("n_a"), col("n_b"), col("t_ties"),
      aggregate(col("grid"),
        struct(lit(0L).as("cum"), lit(0L).cast(d38).as("two_r")),
        (acc, x) => {
          val t = x("c_a") + x("c_b")
          struct((acc("cum") + t).as("cum"),
            (acc("two_r") + x("c_a").cast(d38) *
              (lit(2L) * acc("cum") + t + lit(1L))).as("two_r"))
        },
        acc => acc("two_r")).as("two_r1"))
    val n = (col("n_a") + col("n_b")).cast(d38)
    val varNum = (col("n_a").cast(d38) * col("n_b")) *
      ((n + 1) * n * (n - 1) - col("t_ties"))
    val varDen = lit(12).cast(d38) * n * (n - 1)
    folded.select(col("n_a"), col("n_b"),
        (col("two_r1") - col("n_a").cast(d38) * (col("n_a") + lit(1L)))
          .as("u2d"),
        (col("n_a").cast(d38) * col("n_b")).as("mu2d"),
        col("t_ties").cast("double").as("t_ties"),
        when(varNum > 0, varNum).otherwise(raise_error(lit(
          "Eval.mannWhitney: zero rank variance — every value is " +
            "tied (or a population is empty), the test is undefined")))
          .as("vn"),
        varDen.as("vd"))
      .select(col("n_a"), col("n_b"),
        col("u2d").cast("long").as("u2"),
        col("mu2d").cast("long").as("mu2"),
        col("u2d"), col("mu2d"), col("t_ties"),
        (col("vn").cast("double") / col("vd").cast("double"))
          .as("var_u"))
      .withColumn("z", (col("u2d") - col("mu2d")).cast("double") /
        (lit(2.0) * sqrt(col("var_u"))))
      .drop("u2d", "mu2d")
  }

  /** Two-sample Kolmogorov–Smirnov statistic between the `value`
    * distributions of population `inA` and its complement: one row
    * with `n_a`, `n_b`, the EXACT integer `ks_num` =
    * max_v |cumA(v)·n_b − cumB(v)·n_a|, `ks_den` = n_a·n_b,
    * `ks` = num/den (the D statistic, one exact division), and
    * `ks_at` — the smallest value attaining the supremum (where the
    * CDFs diverge most; the actionable part of the report).
    *
    * D's rational form keeps the whole sweep in int64
    * (cum·n ≤ 3.6e13 at the 10x probe): the value-grid counts frame
    * folds once in ascending value order, tracking both cumulative
    * counts, the best |difference| and its first witness. */
  def ks2Sample(df: DataFrame, value: Column, inA: Column): DataFrame =
    twoPopulationGrid(df, value, inA).select(col("n_a"), col("n_b"),
        aggregate(col("grid"),
          struct(lit(0L).as("ca"), lit(0L).as("cb"),
            lit(-1L).as("best"), lit(0.0).as("at")),
          (acc, x) => {
            val ca = acc("ca") + x("c_a")
            val cb = acc("cb") + x("c_b")
            val d = abs(ca * col("n_b") - cb * col("n_a"))
            struct(ca.as("ca"), cb.as("cb"),
              greatest(acc("best"), d).as("best"),
              when(d > acc("best"), x("v")).otherwise(acc("at")).as("at"))
          },
          acc => struct(acc("best").as("num"), acc("at").as("at")))
          .as("r"))
      .select(col("n_a"), col("n_b"),
        col("r.num").as("ks_num"),
        (col("n_a") * col("n_b")).as("ks_den"),
        (col("r.num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("ks"),
        col("r.at").as("ks_at"))

  /** The value grid both two-population tests fold: one row holding
    * `grid`, the ascending-`v` array of (v, c_a, c_b) counts per
    * distinct non-null value (c_a in population `inA`, c_b in its
    * complement), the totals `n_a`/`n_b`, and any `extra` aggregates
    * over that counts frame — one map-side-combined aggregate, so the
    * folds run on the bounded grid. */
  private def twoPopulationGrid(df: DataFrame, value: Column, inA: Column,
                                extra: Column*): DataFrame =
    df.select(value.as("v"), inA.cast("boolean").as("a"))
      .where(col("v").isNotNull && col("a").isNotNull)
      .groupBy("v")
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("c_a"),
        sum(when(!col("a"), 1L).otherwise(0L)).as("c_b"))
      .agg(
        array_sort(collect_list(struct(col("v"), col("c_a"), col("c_b"))))
          .as("grid"),
        sum("c_a").as("n_a") +: sum("c_b").as("n_b") +: extra: _*)
}
