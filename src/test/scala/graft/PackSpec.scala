package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pack.Pack
import graft.text.TextOps

/** Corpus-assembly operators: packing checked against a driver-side
  * reference implementation on the REAL sf0.001 corpus (the oracle gate
  * re-checks the same semantics in DuckDB at sf0.01), mixture sampling
  * against its distributional and determinism contracts. */
class PackSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val L = 64L
  private def docs = graft.sources.Tables(spark, TestSpark.sf, "documents")

  private def packed = Pack.packSequences(docs, "doc_id",
      TextOps.wordCount(col("text")), pmod(col("doc_id"), lit(4)), L)
    .select("doc_id", "n_tokens", "bucket", "tok_offset",
      "seq_first", "seq_last")

  test("packSequences matches a sequential reference packing exactly") {
    val toks = docs
      .select(col("doc_id"), TextOps.wordCount(col("text")).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    // reference: per bucket in doc_id order, running offset, floor chunks
    var offsets = Map.empty[Long, Long]
    val expected = toks.map { case (id, n) =>
      val b = id % 4
      val off = offsets.getOrElse(b, 0L)
      offsets = offsets.updated(b, off + n)
      (id, n, b, off, off / L, (off + n - 1) / L)
    }.toSet
    val got = packed.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(got == expected)
  }

  test("packing invariants: contiguous coverage, full bucket consumption") {
    val rows = packed.collect().map(r => (r.getLong(2), r.getLong(0),
      r.getLong(3), r.getLong(1), r.getLong(4), r.getLong(5)))
    for ((_, rs) <- rows.groupBy(_._1)) {
      val inOrder = rs.sortBy(_._2)
      // doc k starts exactly where doc k-1 ended: no token gaps or overlaps
      inOrder.foldLeft(0L) { case (expectedOff, (_, id, off, n, f, l)) =>
        assert(off == expectedOff, s"doc $id offset $off != $expectedOff")
        assert(f == off / L && l == (off + n - 1) / L)
        assert(f <= l && n >= 1)
        off + n
      }
      // the bucket's sequence count is exactly ceil(bucketTokens / L)
      val total = inOrder.map(_._4).sum
      assert(inOrder.map(_._6).max == (total - 1) / L)
    }
  }

  test("mixture: weight-1 sources all kept, weight-0 sources all dropped") {
    val flags = Pack.mixtureFlags(docs, col("source"), col("doc_id"),
        gates.PGates.p02Weights, gates.PGates.p02Seed)
      .groupBy("weight").agg(count(lit(1)).as("n"),
        sum(col("kept")).as("kept"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val byW = flags.map(t => t._1 -> (t._2, t._3)).toMap
    assert(byW(1.0)._1 == byW(1.0)._2, "weight 1.0 must keep every row")
    assert(byW(0.0)._2 == 0L, "weight 0.0 must keep no row")
    // intermediate weights keep a strict, roughly proportional subset
    for ((w, (n, kept)) <- byW if w > 0.0 && w < 1.0) {
      assert(kept > 0 && kept < n, s"weight $w kept $kept of $n")
      val dev = math.abs(kept.toDouble / n - w)
      assert(dev < 0.35, s"weight $w keep-rate ${kept.toDouble / n}")
    }
  }

  test("mixture: same seed reproduces; new seed redraws") {
    def keptSet(seed: String) =
      Pack.mixtureSample(docs, col("source"), col("doc_id"),
        gates.PGates.p02Weights, seed).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val a = keptSet(gates.PGates.p02Seed)
    assert(a == keptSet(gates.PGates.p02Seed))
    val b = keptSet("other-seed")
    assert(a != b, "independent seeds must not reproduce the same sample")
  }

  test("splitAssign: fractions honored, growth-stable, last split " +
      "absorbs remainder") {
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val df = spark.range(0, 2000).toDF("id")
    val labels = df.select(col("id"),
        Pack.splitAssign(col("id"), splits, "s1").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val counts = labels.values.groupBy(identity).view.mapValues(_.size)
    // one md5 coin per row: expect fractions within a loose binomial band
    assert(math.abs(counts("train") - 1600) < 120, counts.toMap.toString)
    assert(math.abs(counts("val") - 200) < 80)
    assert(math.abs(counts("test") - 200) < 80)
    // growth stability: a prefix of the corpus gets identical labels
    val prefix = spark.range(0, 500).toDF("id")
      .select(col("id"), Pack.splitAssign(col("id"), splits, "s1").as("split"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(prefix == labels.view.filterKeys(_ < 500).toMap)
    // every label is one of the splits (last absorbs u >= 0.9 exactly)
    assert(labels.values.toSet == Set("train", "val", "test"))
  }

  test("uniformDraw stays in [0, 1)") {
    val mm = docs.select(Pack.uniformDraw("s", col("doc_id")).as("u"))
      .agg(min(col("u")), max(col("u"))).head()
    assert(mm.getDouble(0) >= 0.0 && mm.getDouble(1) < 1.0)
  }

  test("sampleKPerGroup equals the windowed rule and reproduces by seed") {
    import org.apache.spark.sql.expressions.Window
    val k = 10
    def sample(seed: String) =
      Pack.sampleKPerGroup(docs, col("source"), col("doc_id"), k, seed)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toSet
    val got = sample(gates.PGates.p06Seed)
    val win = docs.select(col("source"), col("doc_id"),
        Pack.uniformDraw(gates.PGates.p06Seed, col("doc_id")).as("u"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("u").asc, col("doc_id").asc)).cast("int"))
      .filter(col("rank") <= k)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(3))).toSet
    assert(got == win)
    assert(got.groupBy(_._1).values.forall(_.size <= k))
    assert(got == sample(gates.PGates.p06Seed)) // deterministic
    assert(got != sample("different-seed"))   // seed redraws
  }

  test("chunkWindows: boundary rule matches a sequential reference") {
    import spark.implicits._
    // tokens "t1..tN"; size 4, overlap 1 -> stride 3
    def doc(id: Long, n: Int) = (id, (1 to n).map("t" + _).mkString(" "))
    val docs = Seq(doc(1, 10), doc(2, 11), doc(3, 4), doc(4, 2), doc(5, 1))
      .toDF("doc_id", "text")
    val got = Pack.chunkWindows(docs, "doc_id", "text",
        chunkSize = 4, overlap = 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getString(3))))
      .toMap
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(id: Long, n: Int): Map[(Long, Long), (Long, String)] = {
      val toks = (1 to n).map("t" + _)
      Iterator.from(0).map(k => 1 + k * 3).takeWhile(_ <= math.max(n - 1, 1))
        .zipWithIndex.map { case (s, k) =>
          val chunk = toks.slice(s - 1, s - 1 + 4)
          (id, k.toLong) -> ((chunk.length.toLong, m(chunk.mkString(" "))))
        }.toMap
    }
    val want = Seq((1L, 10), (2L, 11), (3L, 4), (4L, 2), (5L, 1))
      .flatMap { case (id, n) => ref(id, n) }.toMap
    assert(got == want,
      s"extra=${(got.keySet diff want.keySet).take(3)} " +
        s"missing=${(want.keySet diff got.keySet).take(3)}")
    // every doc chunked, full coverage: chunk 0 always exists
    assert(Seq(1L, 2L, 3L, 4L, 5L).forall(id => got.contains((id, 0L))))
  }

  test("shuffleShard: shard = draw mod n, positions contiguous in draw " +
      "order, seed-reproducible") {
    val out = Pack.shuffleShard(docs, col("doc_id"), nShards = 8,
      seed = "spec-seed")
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val nDocs = docs.count()
    assert(rows.length == nDocs, "every doc assigned exactly once")
    // reference: recompute the integer draw driver-side
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def draw(id: Long) =
      java.lang.Long.parseLong(md5hex("spec-seed" + id).take(15), 16)
    for ((id, shard, _) <- rows)
      assert(shard == (draw(id) % 8).toInt, s"shard of doc $id")
    // per shard: pos is 1..count and ordered by (draw, id)
    for ((shard, grp) <- rows.groupBy(_._2)) {
      val byPos = grp.sortBy(_._3)
      assert(byPos.map(_._3).toSeq == (1 to grp.length),
        s"shard $shard positions not contiguous")
      val keys = byPos.map { case (id, _, _) => (draw(id), id) }
      assert(keys.toSeq == keys.sortBy(identity).toSeq,
        s"shard $shard not in draw order")
    }
    // deterministic: re-running with the same seed is identical; a new
    // seed produces a different order
    val again = Pack.shuffleShard(docs, col("doc_id"), 8, "spec-seed")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(again == rows.toSet)
    val reseeded = Pack.shuffleShard(docs, col("doc_id"), 8, "other-seed")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(reseeded != rows.toSet)
  }

  test("tokenBudget: allocations are exact integer floor shares of the " +
      "corpus total and epochs is their ratio") {
    import spark.implicits._
    // a:10+20 tokens, b:30, c:40 -> budget=100; weights a:50 b:30 c:0,
    // wsum=80 -> desired a: 100*50 div 80 = 62, b: 37, c: 0
    val docs = Seq(("a", 10L), ("a", 20L), ("b", 30L), ("c", 40L))
      .toDF("source", "toks")
    val out = Pack.tokenBudget(docs, col("source"), col("toks"),
        Map("a" -> 50, "b" -> 30, "c" -> 0))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toMap
    assert(out("a") == ((2L, 30L, 62L, 2L, 2.066667)))
    assert(out("b") == ((1L, 30L, 37L, 1L, 1.233333)))
    assert(out("c") == ((1L, 40L, 0L, 0L, 0.0)))
    // a source absent from the weight map is allocated nothing
    val out2 = Pack.tokenBudget(docs, col("source"), col("toks"),
        Map("a" -> 1)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(out2("b") == 0L && out2("c") == 0L && out2("a") == 100L)
  }

  test("packNoStraddle: greedy fill, new bin on overflow, oversize doc " +
      "alone in its bin; invariants hold on the real corpus") {
    import spark.implicits._
    // bucket 0: 100+100 fit bin 1; 80 overflows -> bin 2; 300 oversize
    //   -> bin 3 alone; 50 can't join the overflowed bin -> bin 4
    val docs = Seq((1L, 0L, 100L), (2L, 0L, 100L), (3L, 0L, 80L),
        (4L, 0L, 300L), (5L, 0L, 50L), (6L, 1L, 10L))
      .toDF("doc_id", "bucket", "toks")
    val out = Pack.packNoStraddle(docs, "doc_id", col("toks"),
        col("bucket"), capacity = 256L)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out(1L) == ((0L, 1L, 0L)))
    assert(out(2L) == ((0L, 1L, 100L)))
    assert(out(3L) == ((0L, 2L, 0L)))
    assert(out(4L) == ((0L, 3L, 0L)), "oversize doc gets its own bin")
    assert(out(5L) == ((0L, 4L, 0L)),
      "nothing packs after an oversize bin is open")
    assert(out(6L) == ((1L, 1L, 0L)), "buckets pack independently")
    // real-corpus invariants: per (bucket, bin) the fill equals the max
    // offset+len, fills only exceed capacity for singleton oversize
    // bins, and bin indexes are contiguous from 1
    val docs2 = graft.sources.Tables(spark, TestSpark.sf, "documents")
    val packed = Pack.packNoStraddle(docs2, "doc_id",
        graft.text.TextOps.wordCount(col("text")),
        pmod(col("doc_id"), lit(8)), capacity = 256L)
      .join(docs2.select(col("doc_id"),
        graft.text.TextOps.wordCount(col("text")).as("n")), Seq("doc_id"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    for (((bucket, bin), grp) <- packed.groupBy(p => (p._2, p._3))) {
      val fill = grp.map(_._5).sum
      assert(grp.forall(p => p._4 + p._5 <= fill))
      if (fill > 256L)
        assert(grp.length == 1 && grp.head._5 > 256L,
          s"bucket $bucket bin $bin over capacity without being oversize")
    }
    for ((bucket, grp) <- packed.groupBy(_._2)) {
      val bins = grp.map(_._3).distinct.sorted.toSeq
      assert(bins == (1L to bins.length.toLong).toSeq,
        s"bucket $bucket bins not contiguous: $bins")
    }
  }

  test("mixtureExpand: whole epochs replicate every doc, the fractional " +
      "epoch flips a seeded per-doc coin, zero-weight sources vanish") {
    import spark.implicits._
    val docs = Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 30L),
        (4L, "c", 40L)).toDF("doc_id", "source", "toks")
    // budget=100; weights a:60 b:20 c:0 (wsum=80):
    //   a: desired 75, avail 30 -> full 2, rem 15 (p = 0.5)
    //   b: desired 25, avail 30 -> full 0, rem 25 (p = 5/6)
    //   c: desired 0 -> no rows
    val rows = Pack.mixtureExpand(docs, col("source"), col("doc_id"),
        col("toks"), Map("a" -> 60, "b" -> 20, "c" -> 0), "spec-exp")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._2)
    assert(!byDoc.contains(4L), "zero-weight source emits nothing")
    for (id <- Seq(1L, 2L)) {
      val copies = byDoc.getOrElse(id, Array.empty).length
      assert(copies == 2 || copies == 3, s"doc $id copies=$copies")
      assert(byDoc(id).map(_._4).sorted.toSeq ==
        (1 to copies).map(_.toLong), s"doc $id epochs contiguous")
    }
    assert(byDoc.getOrElse(3L, Array.empty).length <= 1,
      "b has no whole epoch, at most the fractional copy")
    // coin matches the driver-side uniformDraw replica
    def draw(id: Long) = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(("spec-exp" + id).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16) / math.pow(2, 60)
    for (id <- Seq(1L, 2L))
      assert((byDoc(id).length == 3) == (draw(id) < 15.0 / 30.0),
        s"doc $id fractional coin")
    assert((byDoc.getOrElse(3L, Array.empty).length == 1) ==
      (draw(3L) < 25.0 / 30.0), "doc 3 fractional coin")
    // deterministic across reruns
    val again = Pack.mixtureExpand(docs, col("source"), col("doc_id"),
        col("toks"), Map("a" -> 60, "b" -> 20, "c" -> 0), "spec-exp")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again.toSet == rows.toSet)
  }

  test("p11 training order: every expanded copy placed exactly once, " +
      "positions contiguous per shard") {
    val got = SparkEntry.queries("p11_training_order")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
    assert(got.nonEmpty)
    // one placement per (doc, epoch)
    assert(got.map(t => (t._1, t._2)).distinct.length == got.length)
    // contiguous 1..n positions within each shard
    for ((shard, rows) <- got.groupBy(_._3))
      assert(rows.map(_._4).sorted.toSeq == (1 to rows.length).toSeq,
        s"shard $shard positions not contiguous")
    // epochs start at 1 and every doc's epochs are 1..max dense
    for ((doc, rows) <- got.groupBy(_._1))
      assert(rows.map(_._2).sorted.toSeq ==
        (1L to rows.length.toLong).toSeq, s"doc $doc epochs not dense")
  }

  test("p12 pipeline gate: every stage's predicate is necessary and " +
      "sufficient, and pack coordinates are the per-bucket cumsum") {
    // Driver-side replica of the full chain at spec scale: the gate's
    // survivors must be EXACTLY the docs passing dedup AND quality AND
    // the per-source greedy quota, with p01's pack arithmetic on top.
    val out = SparkEntry.queries("p12_pipeline_e2e")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))))
      .toMap
    val ref = docs.select(col("doc_id"), col("source"),
        graft.dedup.Dedup.fingerprint(col("text")).as("fp"),
        TextOps.wordCount(col("text")).cast("long").as("n"),
        TextOps.qualityScore(col("text")).as("q"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    val keptFp = ref.groupBy(_._3).map { case (_, rs) =>
      rs.map(_._1).min }.toSet
    val afterQuality = ref.filter(r =>
      keptFp(r._1) && r._5 >= gates.PGates.p12MinQuality)
    val admitted = afterQuality.groupBy(_._2).values.flatMap { rs =>
      rs.sortBy(_._1)
        .foldLeft((Vector.empty[(Long, String, String, Long, Double)],
          0L)) { case ((acc, used), r) =>
          if (used < gates.PGates.p12Quota) (acc :+ r, used + r._4)
          else (acc, used)
        }._1
    }.toSeq.sortBy(_._1)
    assert(out.keySet == admitted.map(_._1).toSet,
      s"survivor set diverges: gate-only ${
        out.keySet -- admitted.map(_._1).toSet}, ref-only ${
        admitted.map(_._1).toSet -- out.keySet}")
    assert(admitted.nonEmpty && admitted.size < ref.size,
      "the chain must bind at spec scale")
    // pack coordinates: per bucket (doc_id % 8, ascending doc_id),
    // tok_offset is the running sum and the seq bounds follow p01's rule
    for ((bucket, rs) <- admitted.groupBy(_._1 % 8)) {
      var off = 0L
      for (r <- rs.sortBy(_._1)) {
        val (_, _, n, b, tokOff, sf, sl) = out(r._1)
        assert(b == bucket && tokOff == off && n == r._4)
        assert(sf == off / 256 && sl == (off + n - 1) / 256)
        off += r._4
      }
    }
  }

  test("temperatureMix: sqrt shares sum to 1, budgets floor-allocate, " +
      "small sources up-weight vs their raw share, partition-invariant") {
    import org.apache.spark.sql.functions.col
    // sources sized 100/400/2500 tokens: sqrt weights 10/20/50
    val docs = Seq(
      ("a", 100L), ("b", 400L), ("c", 2500L)
    ).toDF("source", "toks")
    val out = graft.pack.Pack.temperatureMix(docs, col("source"),
        col("toks"), totalBudget = 8000L)
      .orderBy("source").collect()
    val z = 10.0 + 20.0 + 50.0
    assert(out.map(_.getAs[Double]("share")).sum == 1.0)
    for ((r, w) <- out.zip(Seq(10.0, 20.0, 50.0))) {
      assert(r.getAs[Double]("weight") == w)
      assert(r.getAs[Double]("share") == w / z)
      assert(r.getAs[Long]("budget_tokens") ==
        math.floor(8000.0 * w / z).toLong)
    }
    // the tail up-weights: source a holds 100/3000 of tokens but gets
    // 10/80 of budget
    assert(out.head.getAs[Long]("budget_tokens") * 3000L >
      100L * 8000L)
    // partitioning must not move a single bit (the ordered-fold Z)
    val re = graft.pack.Pack.temperatureMix(docs.repartition(7),
        col("source"), col("toks"), totalBudget = 8000L)
      .orderBy("source").collect()
    assert(out.map(_.toSeq).toSeq == re.map(_.toSeq).toSeq)
  }
}
