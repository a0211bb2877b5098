package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // doc2 = exact dup of doc1; doc3 = one word changed ("dog" -> "cat",
  // 12 tokens -> 10 trigram shingles, 7 shared => jaccard 7/13);
  // doc4 = disjoint vocabulary.
  lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "The quick brown fox jumps over the lazy dog, again and again!"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content discussing catalyst optimizer rules")
  ).toDF("doc_id", "text")

  test("fingerprint is normalization-invariant") {
    val fps = docs.select(col("doc_id"), Dedup.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L), "case/punctuation must not change fingerprint")
    assert(fps(1L) != fps(3L))
    assert(fps(1L) != fps(4L))
  }

  test("containmentPairs sees the near-subset pair Jaccard misses, " +
      "orients small->big, and thresholds on containment") {
    // doc 20 = the first 4 words of doc 10: every quote shingle (2 of
    // them) appears in the parent's 10 -> containment 1.0, but
    // jaccard = 2/10 = 0.2 — invisible at any high-Jaccard threshold
    val d = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (20L, "the quick brown fox"),
      (30L, "completely different content discussing catalyst optimizer")
    ).toDF("doc_id", "text")
    val pairs = Dedup.containmentPairsAuto(d, "doc_id", "text", n = 3,
        threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("id_small"),
        r.getAs[Long]("id_big"), r.getAs[Long]("inter"),
        r.getAs[Long]("sz_small"), r.getAs[Long]("sz_big"),
        r.getAs[Double]("containment")))
    assert(pairs.toSeq == Seq((20L, 10L, 2L, 2L, 10L, 1.0)),
      s"got ${pairs.toSeq}")
    // the same pair is invisible to symmetric Jaccard at 0.9
    val j = Dedup.ngramJaccardPairsAuto(d, "doc_id", "text", n = 3,
      probeFilter = lit(true), threshold = 0.9).collect()
    assert(j.isEmpty, "jaccard at 0.9 must not see the subset pair")
    // a lower containment than the threshold is dropped: doc sharing
    // only half its shingles stays out at 0.9
    val half = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (21L, "the quick brown fox sat still")
    ).toDF("doc_id", "text")
    assert(Dedup.containmentPairsAuto(half, "doc_id", "text", n = 3,
      threshold = 0.9).collect().isEmpty)
  }

  test("minhash signature: identical normalized docs get identical sigs") {
    val sh = docs.select(col("doc_id").as("id"),
      Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
    val sigs = Dedup.minhashSignatures(sh, k = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(sigs(1L).length == 64)
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(4L))
  }

  /** The shingle and signature formulations the MinHash kernels replaced:
    * shingle arrays built by a `transform` lambda, and signatures as 64
    * `min(h1 ^ rotl(h2, s))` aggregates over the exploded distinct
    * (id, g) rows, grouped by id. Returns (id, sh, sig). */
  private def explodeAggMinhash(d: org.apache.spark.sql.DataFrame,
                                k: Int): org.apache.spark.sql.DataFrame = {
    def rotl(c: org.apache.spark.sql.Column, s: Int) =
      if (s % 64 == 0) c
      else shiftleft(c, s % 64).bitwiseOR(shiftrightunsigned(c, 64 - s % 64))
    val mins = (0 until k).map(s =>
      min(col("h1").bitwiseXOR(rotl(col("h2"), s))).as(s"m$s"))
    val aggs = collect_set(col("g")).as("sh") +: mins
    Dedup.positionalGrams(d, "doc_id", "text", 3).select("id", "g").distinct()
      .select(col("id"), col("g"), hash(col("g")).cast("long").as("h1"),
        xxhash64(col("g")).as("h2"))
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), col("sh"),
        array((0 until k).map(s => col(s"m$s")): _*).as("sig"))
  }

  private def transformShingles(toks: org.apache.spark.sql.Column,
                                n: Int): org.apache.spark.sql.Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array(concat_ws(" ", toks)))

  test("MinHash kernels equal the transform-lambda shingles and the " +
      "explode + 64-min signatures bit for bit") {
    val edge = Seq[(Long, String)](
      (900001L, ""),                              // empty text
      (900002L, "two words"),                     // shorter than 3 tokens
      (900003L, "one"),
      (900004L, "!!! ???"),                       // no token survives
      (900005L, "a b c a b c a b c a b"),         // repeated grams
      (900006L, "Grüße aus Köln: naïve café ½ 日本語 text über alles"),
      (900007L, "ÄÖÜ àéî ñ — ø œ ß ğ ı İ"),
      (900008L, null)
    ).toDF("doc_id", "text")
    val corpus = graft.sources.Tables(spark, TestSpark.sf, "documents")
      .select("doc_id", "text").unionByName(edge)
    def check(): Unit = {
      val kernel = corpus.select(col("doc_id"),
          Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"),
          transformShingles(Dedup.tokens(col("text")), 3).as("ref"))
        .collect()
      // same grams in the same (first-occurrence) order
      for (r <- kernel)
        assert(r.getSeq[String](1) == r.getSeq[String](2), s"doc ${r.get(0)}")
      val sigs = Dedup.minhashSignatures(
          kernel.toSeq.map(r => (r.getLong(0), r.getSeq[String](1)))
            .toDF("id", "sh"), k = 64)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      val ref = explodeAggMinhash(corpus, 64).collect()
        .map(r => r.getLong(0) -> (r.getSeq[String](1).toSet,
          r.getSeq[Long](2))).toMap
      assert(sigs.keySet == ref.keySet)
      for (r <- kernel) {
        val id = r.getLong(0)
        assert(sigs(id) == ref(id)._2, s"doc $id signature")
        assert(r.getSeq[String](1).toSet == ref(id)._1, s"doc $id set")
      }
    }
    check()
    // the kernels' interpreted eval must agree with their generated code
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try check() finally spark.conf.unset("spark.sql.codegen.factoryMode")
    // a caller's set may hold nulls and repeats; an empty or null set has
    // no signature, as an explode yields no row for it
    val odd = Seq[(Long, Seq[String])]((1L, Seq("x", null, "x")),
        (2L, Seq.empty), (3L, null), (4L, Seq(null)))
      .toDF("id", "sh")
    val exploded = odd.select(col("id"), explode(col("sh")).as("g"))
      .select(col("id"), col("g"), hash(col("g")).cast("long").as("h1"),
        xxhash64(col("g")).as("h2"))
      .groupBy("id").agg(min(col("h1").bitwiseXOR(col("h2"))).as("m0"),
        min(col("h1").bitwiseXOR(shiftleft(col("h2"), 1)
          .bitwiseOR(shiftrightunsigned(col("h2"), 63)))).as("m1"))
      .collect().map(r => r.getLong(0) -> Seq(r.getLong(1), r.getLong(2)))
      .toMap
    assert(Dedup.minhashSignatures(odd, k = 2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap == exploded)
  }

  test("minhashNearDups recalls exact dups and verifies with exact jaccard") {
    val pairs = Dedup.minhashNearDupsAuto(docs, "doc_id", "text",
        k = 64, nBands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.contains((1L, 2L)), "exact dup must always collide in LSH")
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    // any reported pair carries its true jaccard
    for (((a, b), j) <- pairs if Set(a, b) == Set(1L, 3L))
      assert(math.abs(j - 7.0 / 13.0) < 1e-12)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L },
      "disjoint doc must produce no verified pair")
  }

  test("auto df cap is a NO-OP at gate corpora: derived cap clears the " +
      "hottest observed shingle by a wide margin, and every *Auto " +
      "entry point is result-identical to exact semantics") {
    // the embeddingNearDupsAuto invariance discipline for the shingle
    // family: the gates run the production default, so this pin is what
    // keeps the DuckDB oracles exact
    val corpus = graft.sources.Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
    val idx = corpus.select(col("doc_id").as("id"),
      explode(Dedup.shingles(Dedup.tokens(col("text")), 3)).as("g"))
    val cap = Dedup.autoDfCap(corpus, "text", 3)
    val maxDf = idx.groupBy("g").agg(count(lit(1)).as("f"))
      .agg(max("f")).head().getLong(0)
    assert(cap >= 4 * maxDf,
      s"derived cap $cap too close to observed max df $maxDf — the " +
        "no-op margin eroded; the gate oracles are at risk")
    // exact semantics by brute force over the uncapped shingle sets:
    // every (a < b) pair sharing a shingle, with its intersection size
    val sh = corpus.select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val shared = for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa intersect sb).size if inter > 0
    } yield (a, b, sa.size, sb.size, inter)
    def jac(sa: Int, sb: Int, i: Int) = i.toDouble / (sa + sb - i)
    def set(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val probe = col("doc_id") % 10 === 0
    assert(set(Dedup.ngramJaccardPairsAuto(corpus, "doc_id", "text",
        n = 3, probeFilter = probe, threshold = 0.02)) ==
      shared.collect { case (a, b, sa, sb, i)
          if a % 10 == 0 && jac(sa, sb, i) >= 0.02 => (a, b) }.toSet)
    // MinHash banding is approximate, so exact semantics means: every
    // emitted pair carries its uncapped jaccard, and every pair at
    // j >= 0.9 is recalled (the minhash ground-truth spec's bound)
    val brute = shared.map { case (a, b, sa, sb, i) =>
      (a, b) -> jac(sa, sb, i) }.toMap
    val mh = Dedup.minhashNearDupsAuto(corpus, "doc_id", "text",
        k = 64, nBands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
    for ((pair, j) <- mh)
      assert(math.abs(j - brute(pair)) < 1e-12, s"$pair")
    val high = brute.filter(_._2 >= 0.9).keySet
    assert(high.subsetOf(mh.map(_._1).toSet),
      s"missed high-sim pairs: ${high -- mh.map(_._1)}")
    def cset(df: org.apache.spark.sql.DataFrame) =
      df.select("id_small", "id_big").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cset(Dedup.containmentPairsAuto(corpus, "doc_id", "text",
        n = 3, threshold = 0.9)) ==
      shared.collect { case (a, b, sa, sb, i)
          if i.toDouble / math.min(sa, sb).toDouble >= 0.9 =>
        if (sa <= sb) (a, b) else (b, a) }.toSet)
  }

  test("auto df cap BINDS on corpus-fraction boilerplate: the hot " +
      "shingles leave the index, sub-cap near-dups survive") {
    // 120 docs share a boilerplate sentence (its trigrams have df=120,
    // far past 4x the ~13 shingles/doc average) with unique tails; two
    // docs are near-identical with unique content.
    val boiler = (100 to 219).map(i => (i.toLong,
      "terms and conditions apply to all users of this service " +
        s"unique$i tail$i")).toSeq
    val near = Seq(
      (1L, "zebra quartz mango delta epsilon theta kappa sigma omega"),
      (2L, "zebra quartz mango delta epsilon theta kappa sigma omicron"))
    val corpus = (near ++ boiler).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDupsAuto(corpus, "doc_id", "text",
        k = 64, nBands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists { case (a, b) => a >= 100L && b >= 100L },
      "boilerplate-only doc pairs must vanish under the binding cap")
    assert(pairs.contains((1L, 2L)),
      "sub-cap near-dup pair must survive the binding cap")
    val cont = Dedup.containmentPairsAuto(corpus, "doc_id", "text",
        n = 3, threshold = 0.9)
      .select("id_small", "id_big").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!cont.exists { case (a, b) => a >= 100L && b >= 100L },
      "containment: boilerplate-only pairs must vanish too")
  }

  test("simhash: identical docs at distance 0, disjoint docs not paired") {
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue).toMap
    assert(pairs((1L, 2L)) == 0L)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("ngramJaccardPairs computes exact set jaccard via inverted index") {
    val pairs = Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", n = 3,
        probeFilter = col("doc_id") === 1, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs.keySet == Set((1L, 2L), (1L, 3L)),
      s"expected pairs with docs 2 and 3 only, got ${pairs.keySet}")
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    assert(math.abs(pairs((1L, 3L)) - 7.0 / 13.0) < 1e-12)
  }

  test("minhash LSH ground truth at sf0.001: exact verify, high-sim recall") {
    import graft.sources.Tables
    val docs = Tables(spark, TestSpark.sf, "documents")
    val got = Dedup.minhashNearDupsAuto(docs, "doc_id", "text",
        k = 64, nBands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    // brute-force shingle jaccard over the full 500-doc corpus
    val sh = docs.select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val brute = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      j = (sa intersect sb).size.toDouble / (sa union sb).size
      if j >= 0.3
    } yield (a, b) -> j).toMap
    // precision is exact by construction: every reported jaccard must
    // equal the brute-force value
    for ((pair, j) <- got)
      assert(math.abs(j - brute(pair)) < 1e-12, s"$pair")
    // recall: every high-similarity pair must survive banding (j >= 0.9
    // collides with probability 1 - (1 - j^4)^16 > 0.996 per pair; on this
    // fixed corpus + fixed hashes the outcome is deterministic)
    val high = brute.filter(_._2 >= 0.9).keySet
    assert(high.subsetOf(got.keySet),
      s"missed high-sim pairs: ${high -- got.keySet}")
  }

  /** The near-dup stage as SQL over (id, sh, sig, ev): the banding
    * self-join on (band, slice), the pair filter and distinct, and the
    * two join-backs with Spark's array_intersect / array_union Jaccard.
    * `cross` pairs eval rows with train rows instead of a < b. */
  private def sqlNearDups(index: org.apache.spark.sql.DataFrame, k: Int,
                          nBands: Int, threshold: Double,
                          cross: Boolean): Set[(Any, Any, Double)] = {
    val banded = index.select(col("id"), col("ev"),
      posexplode(Dedup.bands(col("sig"), nBands, k / nBands))
        .as(Seq("band", "bh")))
    val a = banded.select(col("id").as("a"), col("ev").as("ev_a"),
      col("band"), col("bh"))
    val b = banded.select(col("id").as("b"), col("ev").as("ev_b"),
      col("band"), col("bh"))
    val cands = a.join(b, Seq("band", "bh"))
      .filter(if (cross) col("ev_a") && !col("ev_b") else col("a") < col("b"))
      .select("a", "b").distinct()
    cands
      .join(index.select(col("id").as("a"), col("sh").as("sh_a")), "a")
      .join(index.select(col("id").as("b"), col("sh").as("sh_b")), "b")
      .select(col("a"), col("b"), (size(array_intersect(col("sh_a"),
        col("sh_b"))).cast("double") / size(array_union(col("sh_a"),
        col("sh_b")))).as("j"))
      .filter(col("j") >= threshold)
      .collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
  }

  test("near-dup stage equals the SQL banding self-join and join-back " +
      "bit for bit, long and string ids, within and across splits") {
    val base = graft.sources.Tables(spark, TestSpark.sf, "documents")
      .select(col("doc_id"), col("text"))
    for (ids <- Seq(col("doc_id"), concat(lit("d"), col("doc_id")))) {
      val corpus = base.select(ids.as("id"), col("text"),
        (col("doc_id") % 10 === 0).as("ev"))
      val sets = corpus.select(col("id"), col("ev"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
      val indexed = sets.join(
        Dedup.minhashSignatures(sets.select("id", "sh"), 64), "id")
      def got(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.get(0), r.get(1), r.getDouble(2))).toSet
      val within = got(Dedup.minhashNearDupsAuto(corpus, "id", "text",
        k = 64, nBands = 16, threshold = 0.3))
      assert(within.nonEmpty)
      assert(within == sqlNearDups(indexed, 64, 16, 0.3, cross = false))
      val across = got(Dedup.crossMinhashNearDupsAuto(corpus, "id", "text",
        col("ev"), k = 64, nBands = 16, threshold = 0.3))
      assert(across.nonEmpty)
      assert(across == sqlNearDups(indexed, 64, 16, 0.3, cross = true))
    }
  }

  test("crossMinhashNearDups ground truth at sf0.001: exact cross-split " +
      "verify, high-sim recall, no within-split pairs") {
    import graft.sources.Tables
    val docs = Tables(spark, TestSpark.sf, "documents")
    val got = Dedup.crossMinhashNearDupsAuto(docs, "doc_id", "text",
        evalFilter = col("doc_id") % 10 === 0,
        k = 64, nBands = 16, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    val sh = docs.select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val (ev, tr) = sh.partition(_._1 % 10 == 0)
    val brute = (for {
      (e, se) <- ev; (t, st) <- tr
      j = (se intersect st).size.toDouble / (se union st).size
      if j >= 0.3
    } yield (e, t) -> j).toMap
    // orientation + precision: every emitted pair is eval -> train with
    // the exact brute-force jaccard
    for ((pair @ (e, t), j) <- got) {
      assert(e % 10 == 0 && t % 10 != 0, s"split orientation: $pair")
      assert(math.abs(j - brute(pair)) < 1e-12, s"$pair")
    }
    // recall: high-similarity cross-split pairs survive banding (same
    // deterministic bound as the within-corpus d02 spec)
    val high = brute.filter(_._2 >= 0.9).keySet
    assert(high.nonEmpty, "corpus must contain cross-split near-clones")
    assert(high.subsetOf(got.keySet),
      s"missed high-sim cross-split pairs: ${high -- got.keySet}")
  }

  test("contamination ground truth at sf0.001: exact n-gram overlap") {
    import graft.sources.Tables
    val corpus = Tables(spark, TestSpark.sf, "documents")
    val got = Dedup.contamination(
        corpus.filter(col("doc_id") % 10 =!= 0),
        corpus.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, tau = 0.5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4))))
      .toMap
    // brute force: distinct trigram sets per doc, train = union over the
    // non-eval split, per-eval-doc intersection counts
    val sh = corpus.select(col("doc_id"),
        Dedup.shingles(Dedup.tokens(col("text")), 3).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
    val trainSet = sh.filter(_._1 % 10 != 0).map(_._2)
      .foldLeft(Set.empty[String])(_ union _)
    val evalSh = sh.filter(_._1 % 10 == 0)
    assert(got.keySet == evalSh.map(_._1).toSet)
    for ((id, set) <- evalSh) {
      val (nG, nH, ov, flag) = got(id)
      val hits = (set intersect trainSet).size
      assert(nG == set.size, s"doc $id n_ngrams")
      assert(nH == hits, s"doc $id n_hits")
      val frac = hits.toDouble / set.size
      assert(math.abs(ov - frac) < 5e-7, s"doc $id overlap")
      assert(flag == (if (frac >= 0.5) 1 else 0), s"doc $id flag")
    }
    // non-vacuous on this near-dup-heavy corpus: both flag values occur
    assert(got.values.exists(_._4 == 1) && got.values.exists(_._4 == 0),
      "tau must split the eval docs")
  }

  test("dupSpans ground truth at sf0.001: positional cross-doc spans") {
    import graft.sources.Tables
    val corpus = Tables(spark, TestSpark.sf, "documents")
    val got = Dedup.dupSpans(corpus, "doc_id", "text", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // brute force: positional 5-gram lists per doc (duplicates KEPT),
    // cross-doc duplication = gram present in >= 2 distinct docs
    val toks = corpus.select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val spans = toks.map { case (id, t) =>
      id -> (if (t.length >= 5) t.sliding(5).map(_.mkString(" ")).toSeq
             else Seq(t.mkString(" ")))
    }
    val docFreq = spans.flatMap { case (id, gs) => gs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    assert(got.keySet == spans.map(_._1).toSet)
    for ((id, gs) <- spans) {
      val (nS, nD, frac) = got(id)
      val dup = gs.count(g => docFreq(g) >= 2)
      assert(nS == gs.size, s"doc $id n_spans")
      assert(nD == dup, s"doc $id n_dup_spans")
      assert(math.abs(frac - dup.toDouble / gs.size) < 5e-7, s"doc $id frac")
    }
    // non-vacuous: the near-dup corpus must have some duplicated spans
    // and some clean docs
    assert(got.values.exists(_._2 > 0) && got.values.exists(_._2 == 0L))
  }

  test("removeDupSpans drops exactly the covered positions") {
    val got = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // docs 1/2 are exact dups: every span is cross-doc duplicated, the
    // whole text is removed
    assert(got(1L) == ((12L, 12L, "")))
    assert(got(2L) == ((12L, 12L, "")))
    // doc 3 shares spans 1..4 with docs 1/2 (they cover positions 1..8);
    // every span containing "cat" (pos 9) or the differing tail is unique
    assert(got(3L) == ((12L, 8L, "cat again and again")))
    // doc 4 is disjoint: nothing removed, normalized text survives intact
    assert(got(4L) ==
      ((7L, 0L, "completely different content discussing catalyst " +
        "optimizer rules")))
  }

  test("hashGrams scale path is identical to exact strings at sf0.001") {
    import graft.sources.Tables
    val corpus = Tables(spark, TestSpark.sf, "documents")
    def contamRows(h: Boolean) = Dedup.contamination(
        corpus.filter(col("doc_id") % 10 =!= 0),
        corpus.filter(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, tau = 0.5, hashGrams = h)
      .orderBy("id").collect().toSeq
    assert(contamRows(true) == contamRows(false))
    def spanRows(h: Boolean) =
      Dedup.dupSpans(corpus, "doc_id", "text", n = 5, hashGrams = h)
        .orderBy("id").collect().toSeq
    assert(spanRows(true) == spanRows(false))
    def cleanRows(h: Boolean) =
      Dedup.removeDupSpans(corpus, "doc_id", "text", n = 5, hashGrams = h)
        .orderBy("id").collect().toSeq
    assert(cleanRows(true) == cleanRows(false))
  }

  test("simhash ground truth at sf0.001: pigeonhole blocking is EXACT") {
    import graft.sources.Tables
    val docs = Tables(spark, TestSpark.sf, "documents")
    val got = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue)
      .toMap
    // Signatures recomputed INDEPENDENTLY of SimHashAgg: only the raw
    // per-token xxhash64 rows come from Spark; the 64 bit-votes, the sign,
    // and the pairwise hamming are all taken in driver-side Scala. The
    // equality below is therefore two-sided ground truth: soundness (every
    // emitted pair's true hamming, emitted dist included, is <= maxDist)
    // AND completeness (unlike LSH banding, chunk blocking must lose
    // NOTHING — any pair within maxDist agrees on >= 1 of maxDist+1
    // chunks).
    val hashes = docs.select(col("doc_id"),
        explode(array_distinct(Dedup.tokens(col("text")))).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getLong(1)) }
    val sigs = hashes.map { case (id, hs) =>
      id -> (0 until 64).foldLeft(0L) { (acc, i) =>
        val vote = hs.map(h => (((h >>> i) & 1L) << 1) - 1).sum
        if (vote > 0) acc | (1L << i) else acc
      }
    }
    val ids = sigs.keys.toArray.sorted
    val brute = (for {
      a <- ids; b <- ids if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)).toLong
      if d <= 3L
    } yield (a, b) -> d).toMap
    assert(got == brute,
      s"missed: ${brute.keySet -- got.keySet}; " +
        s"extra: ${got.keySet -- brute.keySet}; " +
        s"dist mismatches: ${got.filter { case (k, v) =>
          brute.get(k).exists(_ != v) }}")
  }

  test("semanticDedup ground truth at sf0.001: greedy in-cell rule, exact") {
    import graft.sources.Tables
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val tau = 0.25
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
        c = 16, tau = tau)
      .collect().map(_.getLong(0)).toSet
    // Brute-force the same rule over the same deterministic cells: drop b
    // iff some lower-id a in b's cell has cosine(a, b) >= tau.
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val cells = graft.sim.Ivf.assign(corpus,
        graft.sim.Ivf.fitCentroids(corpus, c = 16, iters = 3))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getLong(2)))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectedKept = (for {
      byCell <- cells.groupBy(_._3).values
      sorted = byCell.sortBy(_._1)
      (id, v, _) <- sorted
      if !sorted.exists { case (a, va, _) => a < id && cos(va, v) >= tau }
    } yield id).toSet
    assert(kept == expectedKept,
      s"extra=${(kept diff expectedKept).take(3)} " +
        s"missing=${(expectedKept diff kept).take(3)}")
    assert(kept.size < cells.length,
      "tau=0.25 must actually drop in-cell near-dups on this corpus")
  }

  test("semanticDedupTwoLevel degenerates to single-level at c1=1") {
    import graft.sources.Tables
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val tau = 0.25
    // One coarse cell means: coarse mean-of-corpus centroid, then a
    // grouped fine fit whose seeds are exactly single-level's
    // lowest-c ids and whose iterations see the same members — so the
    // kept set must coincide with semanticDedup at c = c2.
    val single = Dedup.semanticDedup(emb, "vec_id", "embedding",
        c = 16, tau = tau)
      .collect().map(_.getLong(0)).toSet
    val two = Dedup.semanticDedupTwoLevel(emb, "vec_id", "embedding",
        c1 = 1, c2 = 16, tau = tau)
      .collect().map(_.getLong(0)).toSet
    assert(two == single,
      s"extra=${(two diff single).take(3)} missing=${(single diff two).take(3)}")
  }

  test("semanticDedupTwoLevel ground truth: greedy rule over composite cells") {
    import graft.sources.Tables
    import graft.sim.Ivf
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val tau = 0.25
    val (c1, c2) = (4, 4)
    val kept = Dedup.semanticDedupTwoLevel(emb, "vec_id", "embedding",
        c1 = c1, c2 = c2, tau = tau)
      .collect().map(_.getLong(0)).toSet
    // Replay the deterministic two-level assignment with the public
    // primitives (fitFraction = 1, so fit rows == corpus and the
    // vanished-group fallback is inert), then brute-force the greedy
    // rule within each (coarse, fine) cell.
    val corpus = emb.select(col("vec_id").as("id"), col("embedding").as("v"))
    val coarseCentroids = Ivf.fitCentroids(corpus, c = c1, iters = 3)
    val coarseCells = Ivf.assign(corpus, coarseCentroids)
      .select(col("id"), col("v"), col("cluster").as("coarse"))
    val fine = Ivf.fitCentroidsWithin(coarseCells, "coarse", c2, iters = 3,
      seedCorpus = Some(coarseCells))
    val cells = Ivf.assignWithin(coarseCells, "coarse", fine)
      .select(col("id"), col("v"), col("coarse"), col("cluster"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        (r.getLong(2), r.getLong(3))))
    assert(cells.length == emb.count(), "two-level assignment lost rows")
    assert(cells.map(_._3._1).distinct.length > 1,
      "coarse level must actually split this corpus")
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expectedKept = (for {
      byCell <- cells.groupBy(_._3).values
      sorted = byCell.sortBy(_._1)
      (id, v, _) <- sorted
      if !sorted.exists { case (a, va, _) => a < id && cos(va, v) >= tau }
    } yield id).toSet
    assert(kept == expectedKept,
      s"extra=${(kept diff expectedKept).take(3)} " +
        s"missing=${(expectedKept diff kept).take(3)}")
    assert(kept.size < cells.length,
      "tau=0.25 must actually drop in-cell near-dups on this corpus")
  }

  test("semanticDedupTwoLevel: sampled fit never loses corpus rows (fallback)") {
    import graft.sources.Tables
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    // A 5% fit sample over 8 coarse cells leaves some coarse cells with
    // zero fit rows; the coarse-centroid fallback must still give every
    // corpus row a (coarse, fine) home — the audit covers the corpus
    // exactly once, every drop carries a valid lower-id witness.
    val audit = Dedup.semanticDedupTwoLevelAudit(emb, "vec_id", "embedding",
        c1 = 8, c2 = 4, tau = 0.25, fitFraction = 0.05)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(audit.length == emb.count(),
      s"audit covers ${audit.length} of ${emb.count()} corpus rows")
    assert(audit.map(_._1).distinct.length == audit.length)
    for ((id, kept, wid) <- audit if !kept)
      assert(wid.exists(_ < id), s"drop $id lacks a lower-id witness")
  }

  test("semanticDedupAuto switches to two-level past the envelope") {
    import graft.sources.Tables
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    // Claimed corpusRows past targetCell*maxCells forces the two-level
    // branch (needsTwoLevelForPairs); the run must stay sound on the
    // real (small) corpus: distinct kept ids, all from the corpus.
    val n = (1L << 17) * 1000L + 1L
    val kept = Dedup.semanticDedupAuto(emb, "vec_id", "embedding",
        tau = 0.25, corpusRows = Some(n))
      .collect().map(_.getLong(0))
    val ids = emb.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept.distinct.length == kept.length)
    assert(kept.forall(ids), "kept id outside the corpus")
    assert(kept.nonEmpty)
  }

  test("semanticDedupAudit: kept set matches, witnesses justify drops") {
    import graft.sources.Tables
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val tau = 0.25
    val audit = Dedup.semanticDedupAudit(emb, "vec_id", "embedding",
        c = 16, tau = tau)
      .collect()
      .map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
    // the audit covers the corpus exactly once
    assert(audit.length == emb.count())
    assert(audit.map(_._1).distinct.length == audit.length)
    // kept rows == semanticDedup's kept set; kept rows carry no witness
    val kept = Dedup.semanticDedup(emb, "vec_id", "embedding",
        c = 16, tau = tau)
      .collect().map(_.getLong(0)).toSet
    assert(audit.filter(_._2).map(_._1).toSet == kept)
    assert(audit.filter(_._2).forall(r => r._3.isEmpty && r._4.isEmpty))
    // every drop's witness: lower id, exact cosine >= tau, and the
    // exported cosine matches an independent recomputation
    val vecs = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val dropped = audit.filterNot(_._2)
    assert(dropped.nonEmpty)
    for ((id, _, wid, wcos) <- dropped) {
      assert(wid.nonEmpty && wcos.nonEmpty, s"drop $id has no witness")
      assert(wid.get < id, s"witness ${wid.get} not lower than $id")
      val c = cos(vecs(wid.get), vecs(id))
      assert(c >= tau, s"witness cosine $c below tau for ($id, ${wid.get})")
      // 1e-6 tolerance: the fused kernel and this scalar recomputation
      // differ in float accumulation order (same bound as d08_soundness)
      assert(math.abs(c - wcos.get) < 1e-6,
        s"exported cosine ${wcos.get} != recomputed $c for ($id, ${wid.get})")
    }
  }

  test("semanticDedupAuditFromCentroids == semanticDedupAudit on the " +
      "same fit (the d08 exported-model gate route)") {
    import graft.sources.Tables
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, TestSpark.sf, "embeddings")
    val corpus = emb.select(col("vec_id").as("id"),
      col("embedding").as("v"))
    val centroids = graft.sim.Ivf.fitCentroids(corpus, c = 16, iters = 3)
    val fromC = Dedup.semanticDedupAuditFromCentroids(
        emb, "vec_id", "embedding", centroids, tau = 0.25)
      .orderBy("vec_id").collect().toSeq
    val inline = Dedup.semanticDedupAudit(
        emb, "vec_id", "embedding", c = 16, tau = 0.25)
      .orderBy("vec_id").collect().toSeq
    assert(fromC == inline)
  }

  test("connectedComponents: chains merge, min id labels the cluster") {
    val pairs = Seq((2L, 1L), (2L, 3L), (5L, 4L), (9L, 9L))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L,
      9L -> 9L))
  }

  test("connectedComponents converges on a long chain (diameter > 2)") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, "id_a", "id_b")
      .collect().map(r => r.getLong(1)).distinct.toSeq
    assert(got == Seq(1L), "one component labeled by its min id")
  }

  /** A random pair graph: chains and stars over shuffled vertex ids,
    * joined by a few random edges, with repeats and self-loops. */
  private def randomGraph(seed: Long): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val ids = rnd.shuffle((1L to 400L).toVector)
    val (chainIds, rest) = ids.splitAt(200)
    val chains = chainIds.grouped(25).flatMap(c => c.zip(c.tail)).toSeq
    val stars = rest.take(150).grouped(15)
      .flatMap(s => s.tail.map(leaf => (s.head, leaf))).toSeq
    val extra = Seq.fill(12)((ids(rnd.nextInt(350)), ids(rnd.nextInt(350))))
    val all = chains ++ stars ++ extra ++ chains.take(5) :+ ((7L, 7L))
    rnd.shuffle(all).map { case (a, b) => if (rnd.nextBoolean()) (a, b) else (b, a) }
  }

  /** Each vertex's component minimum, by union-find on the driver. */
  private def driverComponents[T](edges: Seq[(T, T)])(
      implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ord.lt(ra, rb)) parent(rb) = ra else if (ord.lt(rb, ra)) parent(ra) = rb
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  test("connectedComponents equals a driver union-find on chains and " +
      "stars at any pair and shuffle partitioning, long and string ids") {
    val edges = randomGraph(7)
    val named = edges.map { case (a, b) => (s"v${a * 37 % 401}", s"v${b * 37 % 401}") }
    val longWant = driverComponents(edges)
    val strWant = driverComponents(named)
    val longPairs = edges.toDF("id_a", "id_b")
    val strPairs = named.toDF("id_a", "id_b")
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try {
      for (sp <- Seq(1, 4, 32); parts <- Seq(1, 4, 32)) {
        spark.conf.set(key, sp.toString)
        val gotL = Dedup.connectedComponents(longPairs.repartition(parts),
            "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotL == longWant, s"long ids, $parts pair partitions, $sp")
        val gotS = Dedup.connectedComponents(strPairs.repartition(parts),
            "id_a", "id_b")
          .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        assert(gotS == strWant, s"string ids, $parts pair partitions, $sp")
      }
    } finally spark.conf.set(key, before)
  }

  test("connectedComponents over single-partition pairs runs at most " +
      "four jobs, collecting the result included") {
    val pairs = randomGraph(11).toDF("id_a", "id_b").repartition(1)
    val want = driverComponents(randomGraph(11))
    var got = Map.empty[Long, Long]
    val jobs = graft.util.RunMetrics.measure(spark) {
      got = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }._2.jobs
    assert(got == want)
    assert(jobs <= 4, s"$jobs jobs")
  }

  test("embeddingNearDups pairs by cosine threshold") {
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.99f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding",
        probeFilter = col("vec_id") === 0, threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("embeddingNearDupsAuto equals the frozen reference config at " +
      "gate scale (the d05/d06/d15 gates' auto-knob invariance)") {
    // At every test sf the sqrt-rule derivation lands on the reference
    // b=1/L=18 exactly (2000 rows / targetBucket 1000 -> 1 bit; table
    // compensation is p^0 = 1), so switching the gates to the AUTO
    // deployment entry point (r13) must be result-INVARIANT — this
    // pins it with sets, not prose, the s02/s04 maxBucket precedent.
    val emb = graft.sources.Tables(spark, TestSpark.sf, "embeddings")
    val kn = graft.sim.LshKnobs.derive(emb.count(),
      Dedup.NearDupTargetBucket, Dedup.NearDupBaseBits,
      Dedup.NearDupBaseTables)
    assert(kn.bits == Dedup.NearDupBaseBits
        && kn.tables == Dedup.NearDupBaseTables && !kn.tablesCapped,
      s"derivation drifted off the reference config at gate scale: $kn")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val frozen = pairs(Dedup.embeddingNearDups(emb, "vec_id", "embedding",
      probeFilter = col("vec_id") % 20 === 0, threshold = 0.25))
    val auto = pairs(Dedup.embeddingNearDupsAuto(emb, "vec_id",
      "embedding", probeFilter = col("vec_id") % 20 === 0,
      threshold = 0.25))
    assert(frozen.nonEmpty && auto == frozen,
      s"auto/frozen diverge: ${(auto diff frozen).take(3)} / " +
        s"${(frozen diff auto).take(3)}")
  }

  // Driver-side replica of cdcChunkDups' segmentation (window 3,
  // boundary digit <= bound): chunk md5s of one doc in order.
  private def refCdcChunks(text: String, bound: Char): Seq[String] = {
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val toks = text.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
      .split(" ", -1).toSeq
    val n = toks.length
    val ends = (3 until n).filter(i =>
      md5(toks.slice(i - 3, i).mkString(" ")).charAt(0) <= bound) :+ n
    ends.foldLeft((Seq.empty[String], 0)) { case ((acc, prev), e) =>
      (acc :+ md5(toks.slice(prev, e).mkString(" ")), e)
    }._1
  }

  test("cdcChunkDups: chunks re-align after an insertion (the CDC " +
      "property) and the dup set matches a driver-side reference") {
    val tail = (1 to 60).map(i => s"w${i % 13}q$i").mkString(" ")
    val docs = Seq(1L -> s"alpha $tail", 2L -> s"beta gamma $tail")
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunkDups(docs, "doc_id", "text",
        window = 3, hexBoundary = "3")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // reference: multiset intersection of the two docs' chunk md5s
    val a = refCdcChunks(s"alpha $tail", '3')
    val b = refCdcChunks(s"beta gamma $tail", '3')
    val shared = a.toSet.intersect(b.toSet)
    assert(shared.nonEmpty,
      "CDC must re-align the shared tail into identical chunks")
    assert(got.map(_._1).toSet == shared)
    for ((m, nDocs, nOcc) <- got) {
      assert(nDocs == 2L)
      assert(nOcc == (a.count(_ == m) + b.count(_ == m)).toLong)
    }
    // and the re-aligned chunks cover the tail: only the head chunk(s)
    // before the first post-divergence boundary may differ
    assert(a.takeRight(shared.size).toSet == shared,
      "shared chunks are the trailing ones")
  }

  test("cdcSegment equals the driver replica on seeded random token " +
      "streams, and the chunks partition every doc exactly") {
    val rng = new scala.util.Random(11)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg")
    val docs = (1 to 60).map { i =>
      val n = rng.nextInt(30)
      val t =
        if (n == 0) "" // whitespace-only edge: one empty-token chunk
        else Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" ")
      (i.toLong, t)
    }
    val got = Dedup.cdcSegment(docs.toDF("doc_id", "text"),
        "doc_id", "text", window = 3, hexBoundary = "3")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .groupBy(_._1)
      .map { case (id, rs) =>
        id -> rs.sortBy(_._2).map(r => (r._3, r._4)).toSeq }
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    for ((id, text) <- docs) {
      val toks = text.split(" ", -1).toSeq
      val n = toks.length
      val ends = (3 until n).filter(i =>
        md5(toks.slice(i - 3, i).mkString(" ")).charAt(0) <= '3') :+ n
      val ref = ends.foldLeft((Seq.empty[(Long, String)], 0)) {
        case ((acc, prev), e) =>
          (acc :+ ((e - prev).toLong, md5(toks.slice(prev, e).mkString(" "))),
            e)
      }._1
      assert(got(id) == ref, s"doc $id: ${got(id)} != $ref")
      assert(got(id).map(_._1).sum == n.toLong,
        s"doc $id chunks must partition all $n tokens")
    }
  }

  test("cdcChunkDups: tiny docs segment to one whole-doc chunk; " +
      "identical tiny docs dedup") {
    val docs = Seq(1L -> "a b", 2L -> "a b", 3L -> "c")
      .toDF("doc_id", "text")
    val got = Dedup.cdcChunkDups(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got.toSeq == Seq((md5("a b"), 2L, 2L)))
  }

  test("d16 gate: one representative per cluster, the highest-quality " +
      "member, members cover exactly the paired ids") {
    val out = SparkEntry.queries("d16_cluster_best")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty, "no near-dup clusters at gate scale")
    // clusters from the same pair generator, quality replica via t02's
    // column — re-derive the argmax independently
    val docs = graft.sources.Tables(spark, TestSpark.sf, "documents")
    val clusters = Dedup.connectedComponents(
        Dedup.ngramJaccardPairsAuto(docs, "doc_id", "text", n = 3,
          probeFilter = col("doc_id") % 10 === 0, threshold = 0.02),
        "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val q = docs.select(col("doc_id"),
        round(graft.text.TextOps.qualityScore(col("text")), 6))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = clusters.groupBy(_._2)
    assert(out.length == byCluster.size)
    for ((cid, n, rep, repQ) <- out) {
      val members = byCluster(cid).map(_._1)
      assert(members.length.toLong == n, s"cluster $cid size")
      val best = members.minBy(id => (-q(id), id))
      assert(rep == best && repQ == q(best), s"cluster $cid rep")
    }
  }

  test("dedupWeights: 1/cluster_size for clustered ids, 1 for " +
      "singletons; every cluster's mass sums to 1") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val universe = (1L to 12L).toDF("doc_id")
    val got = Dedup.dedupWeights(universe, "doc_id",
        Dedup.connectedComponents(pairs, "id_a", "id_b"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got.size == 12)
    for (id <- Seq(1L, 2L, 3L))
      assert(got(id) == ((1L, 3L, 1.0 / 3.0)), s"id $id")
    for (id <- Seq(10L, 11L))
      assert(got(id) == ((10L, 2L, 0.5)), s"id $id")
    for (id <- (4L to 9L) :+ 12L)
      assert(got(id) == ((id, 1L, 1.0)), s"singleton $id")
    // soft-dedup invariant: each cluster contributes exactly one
    // document's worth of mass
    val byCluster = got.values.groupBy(_._1)
      .map { case (c, vs) => c -> vs.map(_._3).sum }
    assert(byCluster.values.forall(m => math.abs(m - 1.0) < 1e-12))
  }
}
