package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Eval

class EvalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("aucExact: midrank tie handling matches the hand-computed U") {
    // scores 1,2,2,3 / labels F,F,T,T: ranks 1, 2.5, 2.5, 4 ->
    // sumR+ = 6.5, U = 3.5, AUC = 3.5/4 = 0.875 (2U = 7 over 8)
    val df = Seq((1L, false), (2L, false), (2L, true), (3L, true))
      .toDF("sc", "y")
    val r = Eval.aucExact(df, col("sc"), col("y")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((2L, 2L, 7L, 8L)))
    assert(r.getDouble(4) == 0.875)
  }

  test("aucExact: perfect separation is exactly 1.0, reversed is 0.0") {
    val perf = Seq((1L, false), (2L, false), (3L, true), (4L, true))
      .toDF("sc", "y")
    assert(Eval.aucExact(perf, col("sc"), col("y"))
      .collect()(0).getDouble(4) == 1.0)
    val rev = Seq((4L, false), (3L, false), (2L, true), (1L, true))
      .toDF("sc", "y")
    assert(Eval.aucExact(rev, col("sc"), col("y"))
      .collect()(0).getDouble(4) == 0.0)
  }

  test("prCurve: hand-computed points and AP, one-class raises, ties " +
      "fold into their threshold") {
    // scores 3,3,2,1 / labels T,F,T,F — descending thresholds:
    //   s=3: tp=1 seen=2 -> P=0.5 R=0.5 term=(1*1)/(2*2)=0.25
    //   s=2: tp=2 seen=3 -> P=2/3 R=1   term=(1*2)/(2*3)=1/3
    //   s=1: tp=2 seen=4 -> P=0.5 R=1   term=0
    // AP = 0.25 + 1/3 = 7/12
    val df = Seq((3L, true), (3L, false), (2L, true), (1L, false))
      .toDF("sc", "y")
    val out = Eval.prCurve(df, col("sc"), col("y"))
      .orderBy("kind", "s").collect()
    assert(out.length == 4)
    val p = out.filter(_.getString(0) == "point")
      .map(r => r.getLong(1) -> r).toMap
    assert((p(3L).getLong(3), p(3L).getLong(4)) == ((1L, 1L)))
    assert(p(3L).getDouble(6) == 0.5 && p(3L).getDouble(7) == 0.5)
    assert(p(3L).getDouble(8) == 0.25)
    assert((p(2L).getLong(3), p(2L).getLong(4)) == ((2L, 1L)))
    assert(p(2L).getDouble(6) == 2.0 / 3 && p(2L).getDouble(7) == 1.0)
    assert(p(2L).getDouble(8) == 2.0 / 6)
    assert(p(1L).getDouble(8) == 0.0)
    val tot = out.filter(_.getString(0) == "total").head
    assert(tot.getDouble(8) == 0.25 + 2.0 / 6, "AP fold")
    assert((tot.getLong(3), tot.getLong(4)) == ((2L, 2L)))
    // one-class input raises loudly, the chi2FromCells rule
    val one = Seq((3L, true), (2L, true)).toDF("sc", "y")
    val e = intercept[Exception] {
      Eval.prCurve(one, col("sc"), col("y")).collect()
    }
    assert(e.getMessage != null)
  }

  test("prCurve AP equals the brute-force sklearn-style sweep on " +
      "random ties-heavy data") {
    val rng = new scala.util.Random(41)
    val rows = Seq.fill(400)((rng.nextInt(12).toLong, rng.nextBoolean()))
    val df = rows.toDF("sc", "y")
    val tot = Eval.prCurve(df, col("sc"), col("y"))
      .filter(col("kind") === "total").collect().head
    // brute force: descending distinct thresholds over the raw rows
    val nPos = rows.count(_._2).toDouble
    val thresholds = rows.map(_._1).distinct.sorted.reverse
    var prevTp = 0.0
    var ap = 0.0
    for (t <- thresholds) {
      val sel = rows.filter(_._1 >= t)
      val tp = sel.count(_._2).toDouble
      ap += (tp - prevTp) / nPos * (tp / sel.size)
      prevTp = tp
    }
    assert(math.abs(tot.getDouble(8) - ap) < 1e-12,
      s"AP ${tot.getDouble(8)} vs brute $ap")
  }

  test("chi2Drift: 2x2 contingency matches the closed form, total is " +
      "the ordered fold of the cells") {
    // k1: (10, 20), k2: (30, 20) -> chi2 = 25/15*2 + 25/25*2 = 16/3
    val rows = Seq.fill(10)(("k1", true)) ++ Seq.fill(20)(("k1", false)) ++
      Seq.fill(30)(("k2", true)) ++ Seq.fill(20)(("k2", false))
    val d = Eval.chi2Drift(rows.toDF("k", "a"), col("k"), col("a"))
      .orderBy("kind", "k").collect()
    val k1 = d(0); val k2 = d(1); val tot = d(2)
    assert(k1.getString(1) == "k1" && k1.getLong(2) == 10 &&
      k1.getLong(3) == 20)
    assert(math.abs(k1.getDouble(4) - 10.0 / 3) < 1e-12)
    assert(math.abs(k2.getDouble(4) - 2.0) < 1e-12)
    assert(tot.getString(0) == "total" && tot.getLong(2) == 40 &&
      tot.getLong(3) == 40)
    // the fold applies cells in key order: (0 + t_k1) + t_k2 exactly
    assert(tot.getDouble(4) == k1.getDouble(4) + k2.getDouble(4))
  }

  test("chi2Drift refuses a one-population input loudly (no NaN frame)") {
    // all rows on one side: every term would divide by zero and the
    // doubles would go Infinity/NaN silently without the guard
    val rows = Seq.fill(10)(("k1", true)) ++ Seq.fill(5)(("k2", true))
    val e = intercept[Exception] {
      Eval.chi2Drift(rows.toDF("k", "a"), col("k"), col("a")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("population")), s"got: ${msgs(e)}")
  }

  test("calibrationBins: exact binary-fraction sums, bin clamp, total row") {
    // nums over /128: 0 (bin 0), 64 (bin 5), 127 (bin 9), 128 (p=1.0,
    // bin 10 clamps to 9). Labels: y for 64 and 128.
    val rows = Seq((0L, false), (64L, true), (127L, false), (128L, true))
    val d = Eval.calibrationBins(rows.toDF("num", "y"), col("num"), 7,
        col("y"), bins = 10)
      .orderBy("kind", "bin").collect()
    assert(d.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("bin", 0L), ("bin", 5L), ("bin", 9L), ("total", -1L)))
    val bin9 = d(2)
    // bin 9 holds nums 127 (y=0) and 128 (y=1): avg_p = 255/256,
    // pos_rate 0.5, brier = ((127/128)^2 + 0)/2 — all exact pre-round
    assert(bin9.getLong(2) == 2 && bin9.getLong(4) == 1)
    assert(bin9.getDouble(3) ==
      math.rint(255.0 / 256 * 1e6) / 1e6)
    assert(bin9.getDouble(6) ==
      math.rint(math.pow(127.0 / 128, 2) / 2 * 1e6) / 1e6)
    val tot = d(3)
    assert(tot.getLong(2) == 4 && tot.getLong(4) == 2)
    // overall Brier: (0 + (1-0.5)^2 + (127/128)^2 + 0)/4
    val brier = (math.pow(0.5, 2) + math.pow(127.0 / 128, 2)) / 4
    assert(tot.getDouble(6) == math.rint(brier * 1e6) / 1e6)
  }

  test("ks2Sample: exact rational D and the FIRST witness value") {
    // A = [1,2,3], B = [3,4]: diffs over the grid are 2,4,3,0 ->
    // D = 4/6 at v=2
    val df = Seq((1.0, true), (2.0, true), (3.0, true),
      (3.0, false), (4.0, false)).toDF("v", "a")
    val r = Eval.ks2Sample(df, col("v"), col("a")).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 2L, 4L, 6L)))
    assert(r.getDouble(4) == 4.0 / 6.0 && r.getDouble(5) == 2.0)
  }

  test("ks2Sample: identical single-value distributions read D = 0 " +
      "with the lone grid value as witness") {
    val df = Seq((5.0, true), (5.0, false), (5.0, true))
      .toDF("v", "a")
    val r = Eval.ks2Sample(df, col("v"), col("a")).collect()(0)
    assert(r.getLong(2) == 0L && r.getDouble(4) == 0.0 &&
      r.getDouble(5) == 5.0)
  }

  test("ks2Sample: supremum ties resolve to the smallest value") {
    // A = [1,3], B = [2,4]: diffs 2,0,2,0 -> max 2 first hit at v=1
    val df = Seq((1.0, true), (3.0, true), (2.0, false), (4.0, false))
      .toDF("v", "a")
    val r = Eval.ks2Sample(df, col("v"), col("a")).collect()(0)
    assert(r.getLong(2) == 2L && r.getDouble(5) == 1.0)
  }

  test("aucExact equals the brute-force pairwise count on random " +
      "inputs and is invariant under monotone score transforms") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val n = 8 + rng.nextInt(40)
      val rows = Seq.fill(n)((rng.nextInt(6).toLong, rng.nextBoolean()))
      val pos = rows.filter(_._2).map(_._1)
      val neg = rows.filterNot(_._2).map(_._1)
      if (pos.nonEmpty && neg.nonEmpty) {
        // 2U = 2*#(p>n) + #(p==n) over all (pos, neg) pairs
        val twoU = (for (p <- pos; q <- neg)
          yield if (p > q) 2L else if (p == q) 1L else 0L).sum
        val df = rows.toDF("sc", "y")
        val r = Eval.aucExact(df, col("sc"), col("y")).collect()(0)
        assert(r.getLong(2) == twoU && r.getLong(3) ==
          2L * pos.size * neg.size, s"rows=$rows")
        // rank statistic: monotone transform changes nothing
        val r2 = Eval.aucExact(df, col("sc") * 3 + 7, col("y"))
          .collect()(0)
        assert(r2.getLong(2) == twoU)
      }
    }
  }

  test("ks2Sample equals the brute-force CDF sweep and is symmetric " +
      "in the two samples") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val n = 6 + rng.nextInt(30)
      val rows = Seq.fill(n)((rng.nextInt(8) / 2.0, rng.nextBoolean()))
      val a = rows.filter(_._2).map(_._1)
      val b = rows.filterNot(_._2).map(_._1)
      if (a.nonEmpty && b.nonEmpty) {
        val grid = rows.map(_._1).distinct.sorted
        val brute = grid.map(v => math.abs(
          a.count(_ <= v).toLong * b.size -
          b.count(_ <= v).toLong * a.size)).max
        val df = rows.toDF("v", "ya")
        val r = Eval.ks2Sample(df, col("v"), col("ya")).collect()(0)
        assert(r.getLong(2) == brute, s"rows=$rows")
        val rSwap = Eval.ks2Sample(df, col("v"), !col("ya")).collect()(0)
        assert(rSwap.getLong(2) == brute && rSwap.getDouble(5) ==
          r.getDouble(5), "D must be symmetric with the same witness")
      }
    }
  }

  test("chi2Drift total equals the brute-force statistic on random " +
      "contingency tables") {
    val rng = new scala.util.Random(13)
    for (_ <- 1 to 8) {
      val keys = (0 until 2 + rng.nextInt(4)).map(i => s"k$i")
      val rows = keys.flatMap { k =>
        Seq.fill(1 + rng.nextInt(20))((k, true)) ++
          Seq.fill(1 + rng.nextInt(20))((k, false))
      }
      val nA = rows.count(_._2).toDouble
      val nB = rows.size - nA
      val nn = rows.size.toDouble
      val brute = keys.map { k =>
        val oA = rows.count(r => r._1 == k && r._2).toDouble
        val oB = rows.count(r => r._1 == k && !r._2).toDouble
        val ct = oA + oB
        math.pow(oA - nA * ct / nn, 2) / (nA * ct / nn) +
          math.pow(oB - nB * ct / nn, 2) / (nB * ct / nn)
      }.sum
      val tot = Eval.chi2Drift(rows.toDF("k", "a"), col("k"), col("a"))
        .filter(col("kind") === "total").collect()(0)
      assert(math.abs(tot.getDouble(4) - brute) < 1e-9 * (1 + brute),
        s"keys=${keys.size} got=${tot.getDouble(4)} want=$brute")
    }
  }

  test("aucState is a mergeable monoid: chunked maintenance in any " +
      "arrangement equals the one-shot state and statistic exactly") {
    val rng = new scala.util.Random(99)
    val rows = Seq.fill(60)(
      (rng.nextInt(5).toLong, rng.nextBoolean(), rng.nextInt(4)))
    val df = rows.toDF("sc", "y", "chunk")
    def st(chunk: Int) = Eval.aucState(
      df.filter(col("chunk") === chunk), col("sc"), col("y"))
    val oneShot = Eval.aucFromState(
      Eval.aucState(df, col("sc"), col("y"))).collect()(0)
    // sequential fold 0..3 (the maintenance path)
    val seq = (1 to 3).foldLeft(st(0))((a, i) =>
      Eval.aucMergeStates(a, st(i)))
    assert(Eval.aucFromState(seq).collect()(0) == oneShot)
    // tree-shaped merge with the chunks reordered (commutativity +
    // associativity)
    val tree = Eval.aucMergeStates(
      Eval.aucMergeStates(st(3), st(1)),
      Eval.aucMergeStates(st(2), st(0)))
    assert(Eval.aucFromState(tree).collect()(0) == oneShot)
  }

  test("e04's refresh plan reads the base as persisted state: exactly " +
      "one documents scan (the delta), plus the state parquet") {
    val p = SparkEntry.queries("e04_incr_auc")(spark, TestSpark.sf)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val docScans = "Location.*documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 1,
      s"base must come from persisted state, not a rescan:\n$p")
    // ModelStore.load checkpoint-materializes the state frame, so it
    // enters the refresh plan as a Scan ExistingRDD — one parquet read
    // total, never one per consumer
    assert(p.contains("Scan ExistingRDD"),
      s"persisted state scan missing from the plan:\n$p")
  }

  test("embedDrift: hand-built means give the exact report; identical " +
      "populations read l2 = 0, cos = 1") {
    // a = (3, 0), b = (0, 4): delta = (3, -4), l2 = 5, cos = 0
    val means = Seq(("a", 0, 3.0), ("a", 1, 0.0),
      ("b", 0, 0.0), ("b", 1, 4.0)).toDF("pop", "i", "w")
    val r = Eval.embedDrift(means, topK = 2)
      .orderBy("kind", "i").collect()
    assert(r.map(x => (x.getString(0), x.getLong(1), x.getDouble(2)))
      .toList == List(("dim", 0L, 3.0), ("dim", 1L, -4.0),
        ("stat", -2L, 0.0), ("stat", -1L, 5.0)))
    val same = Seq(("a", 0, 1.5), ("a", 1, 2.5),
      ("b", 0, 1.5), ("b", 1, 2.5)).toDF("pop", "i", "w")
    val s2 = Eval.embedDrift(same, topK = 1).orderBy("kind", "i")
      .collect().map(x => (x.getLong(1), x.getDouble(2))).toMap
    assert(s2(-1L) == 0.0 && s2(-2L) == 1.0)
  }

  test("meanVectors emits 2*dims rows and embedDrift rejects a " +
      "malformed model frame") {
    val emb = Seq((0L, Array(1.0f, 2.0f)), (1L, Array(3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val m = Eval.meanVectors(emb, col("embedding"),
      col("vec_id") % 2 === 0)
    assert(m.count() == 4)
    val e = intercept[IllegalArgumentException] {
      Eval.embedDrift(m.drop("w"), topK = 1)
    }
    assert(e.getMessage.contains("missing model column 'w'"))
  }

  test("st12 streaming drift equals the e02 batch statistic row-for-" +
      "row on gate data (order-insensitive counts in state)") {
    val sf = TestSpark.sf
    val batch = SparkEntry.queries("e02_chi2_drift")(spark, sf)
      .collect().toSeq
    val stream = SparkEntry.queries("st12_drift_stream")(spark, sf)
      .collect().toSeq
    assert(stream == batch)
  }

  test("plans: e01/e03 are one partial-aggregated counts frame + one " +
      "fold row — no window, no join anywhere; e02's only join is the " +
      "1-row totals zip") {
    val sf = TestSpark.sf
    for (q <- Seq("e01_auc_label", "e03_ks_2sample")) {
      val p = plan(SparkEntry.queries(q)(spark, sf))
      assert(!p.contains("Window"), s"$q must fold, not window:\n$p")
      assert(!p.contains("Join"), s"$q must not join:\n$p")
      assert(p.contains("partial"), s"$q counts must map-side combine")
    }
    // e02 memoizes its |keys|-row frame (the q46 discipline): the
    // published plan reads the checkpoint — no join survives, and the
    // internal 1-row totals zip never multiplies across the union
    val p2 = plan(SparkEntry.queries("e02_chi2_drift")(spark, sf))
    assert(!p2.contains("Window"), p2)
    assert(!p2.contains("Join"), p2)
    assert(!p2.contains("CartesianProduct"), p2)
  }

  test("poissonWeight: weights live in [0,7] and the coin is fair — " +
      "empirical mean within 3% of 1 over 20k draws") {
    val df = spark.range(20000).toDF("id")
      .select(Eval.poissonWeight("spec-boot",
        concat(col("id").cast("string"), lit("|0"))).as("w"))
    val r = df.agg(min("w"), max("w"), avg("w")).collect()(0)
    assert(r.getLong(0) >= 0L && r.getLong(1) <= 7L)
    assert(math.abs(r.getDouble(2) - 1.0) < 0.03,
      s"Poisson(1) mean drifted: ${r.getDouble(2)}")
  }

  test("integerDrawXx: the expression's coin equals a driver-side " +
      "XXH64 chain replay — the oracle's twin model, pinned") {
    // Spark's xxhash64 folds children left-to-right: the seed STRING
    // stage is the engine's own hashUTF8String at seed 42, then
    // one hashLong per long column. The DuckDB oracle replays exactly
    // this chain in u64 HUGEINT arithmetic, so if this pin breaks the
    // oracle model is wrong — boundary longs included.
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val seed = "spec-xx"
    val h0 = XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(seed), 42L)
    val cases = Seq((0L, 0L), (1L, 63L), (123456789012345L, 7L),
      (Long.MaxValue, 1L), (-17L, 42L))
    val got = cases.toDF("id", "b")
      .select(Eval.integerDrawXx(seed, col("id"), col("b")).as("u"))
      .collect().map(_.getLong(0))
    val want = cases.map { case (id, b) =>
      XXH64.hashLong(b, XXH64.hashLong(id, h0)) & ((1L << 60) - 1)
    }
    assert(got.toSeq == want, s"xx chain drifted: ${got.toSeq} vs $want")
    assert(got.forall(u => u >= 0L && u < (1L << 60)))
  }

  test("poissonWeightXx: fair coin, and the xx and md5 draws agree " +
      "on the documented Poisson(1) weight distribution") {
    val n = 20000L
    def dist(w: org.apache.spark.sql.Column)
        : (Double, Map[Long, Double]) = {
      val rows = spark.range(n).toDF("id").select(w.as("w"))
        .groupBy("w").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1).toDouble / n).toMap
      (rows.map { case (k, f) => k * f }.sum, rows)
    }
    val (mXx, fXx) = dist(Eval.poissonWeightXx("spec-boot",
      col("id"), lit(0L)))
    val (mMd, fMd) = dist(Eval.poissonWeight("spec-boot",
      concat(col("id").cast("string"), lit("|0"))))
    assert(math.abs(mXx - 1.0) < 0.03, s"xx coin mean drifted: $mXx")
    assert(math.abs(mMd - 1.0) < 0.03, s"md5 coin mean drifted: $mMd")
    // both coins reproduce the capped-Poisson pmf (e^-1/k!) within
    // ±1.5 points on the mass-bearing weights — the "documented
    // distribution" both draw kinds must produce
    val pmf = Map(0L -> 0.3679, 1L -> 0.3679, 2L -> 0.1839,
      3L -> 0.0613)
    for ((k, p) <- pmf; f <- Seq(fXx, fMd))
      assert(math.abs(f.getOrElse(k, 0.0) - p) < 0.015,
        s"weight $k mass ${f.getOrElse(k, 0.0)} vs pmf $p")
  }

  test("poissonCdf60: the pinned thresholds equal an independent " +
      "60-digit recomputation of floor(CDF_k(Poisson(1))·2^60)") {
    // e^{-1} via the alternating series at 60-digit precision, then
    // cum_k = e^{-1}·Σ_{j≤k} 1/j! — a typo in any pinned constant
    // would silently skew every bootstrap weight on BOTH engines
    import java.math.{BigDecimal => JBD, MathContext, RoundingMode}
    val mc = new MathContext(60, RoundingMode.HALF_EVEN)
    var einv = JBD.ZERO; var term = JBD.ONE // (−1)^k / k!
    for (k <- 0 to 60) {
      if (k > 0) term = term.divide(new JBD(-k), mc)
      einv = einv.add(term, mc)
    }
    var fact = JBD.ONE; var cum = JBD.ZERO
    val two60 = new JBD(java.math.BigInteger.ONE.shiftLeft(60))
    val got = (0 to 6).map { k =>
      if (k > 0) fact = fact.multiply(new JBD(k), mc)
      cum = cum.add(einv.divide(fact, mc), mc)
      cum.multiply(two60, mc).toBigInteger.longValueExact()
    }
    assert(got == graft.operators.Eval.poissonCdf60,
      s"pinned thresholds drifted: $got")
  }

  test("bootstrapFromReps: a rank past the replicate count raises " +
      "loudly instead of emitting a null CI row") {
    val reps = Seq((-1L, 4L, 40L), (0L, 3L, 30L), (1L, 5L, 50L))
      .toDF("b", "n_eff", "wsum")
    val ex = intercept[Exception] {
      graft.operators.Eval.bootstrapFromReps(reps, loRank = 1,
        hiRank = 3).collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("exceeds"))
  }

  test("psi: values past the top bin edge clamp into the last bin") {
    // 2 bins of 1.00; 10.00 is far past the edge -> bin 1
    val df = Seq((0.50, true), (10.00, true), (0.50, false),
      (1.50, false)).toDF("v", "a")
    val out = graft.operators.Eval.psi(df, col("v"), col("a"),
      bins = 2, binCents = 100L).orderBy("kind", "bin").collect()
    val b1 = out(1)
    assert(b1.getAs[Long]("bin") == 1L)
    assert(b1.getAs[Long]("c_a") == 1L && b1.getAs[Long]("c_b") == 1L)
  }

  test("poissonBootstrap: total row is the exact corpus mean, rep " +
      "rows count B, CI picks are real replicates bracketing the " +
      "point estimate on gate data") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val out = Eval.poissonBootstrap(docs, col("doc_id"),
        graft.text.TextOps.wordCount(col("text")),
        replicates = 64, seed = "graft-boot", loRank = 2, hiRank = 63)
      .collect()
    val reps = out.filter(_.getString(0) == "rep")
    assert(reps.length == 64)
    val tot = out.filter(_.getString(0) == "total").head
    val exact = docs.select(graft.text.TextOps.wordCount(col("text"))
      .as("v")).agg(sum("v"), count(lit(1))).collect()(0)
    assert(tot.getLong(3) == exact.getLong(0) &&
      tot.getLong(2) == exact.getLong(1))
    val lo = out.filter(_.getString(0) == "ci_lo").head.getDouble(4)
    val hi = out.filter(_.getString(0) == "ci_hi").head.getDouble(4)
    assert(lo <= hi, "CI is ordered")
    // the point estimate sits inside the 95% interval, and both ends
    // are genuine replicate means (2nd / 63rd order statistics)
    assert(lo <= tot.getDouble(4) && tot.getDouble(4) <= hi)
    val sortedMeans = reps.map(r => (r.getDouble(4), r.getLong(1)))
      .sortBy(identity)
    assert(lo == sortedMeans(1)._1 && hi == sortedMeans(62)._1)
  }

  test("spearmanExact: monotone is exactly ±1, hand-computed ties " +
      "match, constant signal raises loudly") {
    // rho is DETERMINISTIC (pinned cast/sqrt/divide chain), not
    // algebraically ideal: sqrt(d)·sqrt(d) != d in IEEE, so monotone
    // reads 1 − O(ulp), never a different algebraic answer
    val mono = Seq((1L, 10L), (2L, 20L), (3L, 25L), (4L, 40L))
      .toDF("x", "y")
    assert(math.abs(Eval.spearmanExact(mono, col("x"), col("y"))
      .collect()(0).getAs[Double]("rho") - 1.0) < 1e-12)
    val anti = Seq((1L, 40L), (2L, 25L), (3L, 20L), (4L, 10L))
      .toDF("x", "y")
    assert(math.abs(Eval.spearmanExact(anti, col("x"), col("y"))
      .collect()(0).getAs[Double]("rho") + 1.0) < 1e-12)
    // x = 1,1,2 / y = 5,7,7: doubled midranks 2rx = 3,3,6 ;
    // 2ry = 2,5,5 -> with n=3: num = n*Sxy - Sx*Sy =
    // 3*(6+15+30) - 12*12 = 153 - 144 = 9; dx = 3*(9+9+36)-144 = 18;
    // dy = 3*(4+25+25)-144 = 18 -> rho = 9/18 = 0.5
    val ties = Seq((1L, 5L), (1L, 7L), (2L, 7L)).toDF("x", "y")
    val r = Eval.spearmanExact(ties, col("x"), col("y")).collect()(0)
    assert(r.getAs[Double]("num") == 9.0)
    assert(math.abs(r.getAs[Double]("rho") - 0.5) < 1e-12)
    val const = Seq((1L, 5L), (1L, 7L)).toDF("x", "y")
    val ex = intercept[Exception] {
      Eval.spearmanExact(const, col("x"), col("y")).collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("zero rank variance"))
  }

  test("mannWhitney: hand-computed ties match exactly; all-tied " +
      "input raises loudly") {
    // A = {1, 2}, B = {2, 3}: midranks 1, 2.5 | 2.5, 4 -> R1 = 3.5,
    // U1 = 0.5 -> u2 = 1; mu2 = 4; T = 2³-2 = 6;
    // Var = 4·(5·4·3 − 6)/144 = 1.5; z = −3/(2·√1.5)
    val df = Seq((1L, true), (2L, true), (2L, false), (3L, false))
      .toDF("v", "a")
    val r = graft.operators.Eval.mannWhitney(df, col("v"), col("a"))
      .collect()(0)
    assert(r.getAs[Long]("u2") == 1L && r.getAs[Long]("mu2") == 4L)
    assert(r.getAs[Double]("t_ties") == 6.0)
    assert(r.getAs[Double]("var_u") == 1.5)
    assert(r.getAs[Double]("z") == -3.0 / (2.0 * math.sqrt(1.5)))
    val tied = Seq((5L, true), (5L, false)).toDF("v", "a")
    val ex = intercept[Exception] {
      graft.operators.Eval.mannWhitney(tied, col("v"), col("a"))
        .collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("zero rank variance"))
  }

  test("psi: hand-computed bins match the pinned chain; negative " +
      "values and empty populations raise loudly") {
    // A = {0.50, 1.50}, B = {0.50, 0.50}, 2 bins of 1.00 ->
    // counts A: (1,1), B: (2,0); smoothed denom n + 0.5·2 = 3
    val df = Seq((0.50, true), (1.50, true), (0.50, false),
      (0.50, false)).toDF("v", "a")
    val out = graft.operators.Eval.psi(df, col("v"), col("a"),
      bins = 2, binCents = 100L).orderBy("kind", "bin").collect()
    val b0 = out(0); val b1 = out(1); val tot = out(2)
    assert(b0.getAs[Long]("c_a") == 1L && b0.getAs[Long]("c_b") == 2L)
    assert(b1.getAs[Long]("c_a") == 1L && b1.getAs[Long]("c_b") == 0L)
    val t0 = (1.5 / 3 - 2.5 / 3) * math.log((1.5 / 3) / (2.5 / 3))
    val t1 = (1.5 / 3 - 0.5 / 3) * math.log((1.5 / 3) / (0.5 / 3))
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(b0.getAs[Double]("term") == r6(t0))
    assert(b1.getAs[Double]("term") == r6(t1))
    assert(tot.getAs[Double]("term") == r6(t0 + t1))
    val neg = Seq((-0.50, true), (0.50, false)).toDF("v", "a")
    val ex = intercept[Exception] {
      graft.operators.Eval.psi(neg, col("v"), col("a"), 2, 100L)
        .collect()
    }
    assert(ex.getMessage != null && ex.getMessage.contains("negative"))
    val onePop = Seq((0.50, true), (1.50, true)).toDF("v", "a")
    val ex2 = intercept[Exception] {
      graft.operators.Eval.psi(onePop, col("v"), col("a"), 2, 100L)
        .collect()
    }
    assert(ex2.getMessage != null && ex2.getMessage.contains("empty"))
  }

  test("cohensKappa: hand-computed kappa is exact; constant labelings " +
      "raise loudly") {
    // pairs (pred,true): (a,a),(a,b),(b,b),(b,b) ->
    // n=4, agree=3, pe = 2·1 + 2·3 = 8, kappa = (12−8)/(16−8) = 0.5
    val df = Seq(("a", "a"), ("a", "b"), ("b", "b"), ("b", "b"))
      .toDF("p", "t")
    val out = graft.operators.Eval.cohensKappa(df, col("p"), col("t"))
      .orderBy("kind", "label").collect()
    val byLabel = out.filter(_.getString(0) == "class")
      .map(r => r.getString(1) -> r).toMap
    assert(byLabel("a").getAs[Long]("n_pred") == 2L &&
      byLabel("a").getAs[Long]("n_true") == 1L &&
      byLabel("a").getAs[Long]("pe") == 2L)
    assert(byLabel("b").getAs[Long]("n_agree") == 2L &&
      byLabel("b").getAs[Long]("pe") == 6L)
    val tot = out.filter(_.getString(0) == "total").head
    assert(tot.getAs[Long]("n_agree") == 3L &&
      tot.getAs[Long]("pe") == 8L)
    assert(tot.getAs[Double]("kappa") == 0.5)
    val const = Seq(("a", "a"), ("a", "a")).toDF("p", "t")
    val ex = intercept[Exception] {
      graft.operators.Eval.cohensKappa(const, col("p"), col("t"))
        .collect()
    }
    assert(ex.getMessage != null &&
      ex.getMessage.contains("degenerate marginals"))
  }

  test("st15 streaming bootstrap equals the e08 batch report row-for-" +
      "row on gate data (order-insensitive integer counting in state)") {
    val sf = TestSpark.sf
    val batch = SparkEntry.queries("e08_bootstrap_ci")(spark, sf)
      .collect().toSeq
    val stream = SparkEntry.queries("st15_bootstrap_stream")(spark, sf)
      .collect().toSeq
    assert(stream == batch)
  }

  test("plans: e08's corpus stage is one map-side-combined groupBy to " +
      "B rows (no window, no join); e09's joins are grid-sized rank " +
      "restorations, never a window over the corpus") {
    val sf = TestSpark.sf
    val p8 = plan(SparkEntry.queries("e08_bootstrap_ci")(spark, sf))
    assert(!p8.contains("Window"), s"e08 must fold, not window:\n$p8")
    assert(!p8.contains("Join"), s"e08 must not join:\n$p8")
    assert(p8.contains("partial"), "e08 partials must map-side combine")
    val p9 = plan(SparkEntry.queries("e09_spearman")(spark, sf))
    assert(!p9.contains("Window"), s"e09 must fold, not window:\n$p9")
    assert(p9.contains("partial"), "e09 counts must map-side combine")
  }
}
