package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TopKBuffer
import graft.query.PatternQuery

/** Seeded-fuzz checks for the hand-rolled kernels: each is compared
  * against an obviously-correct brute-force reference over hundreds of
  * random inputs (fixed seed — failures reproduce). */
class PropertySpec extends AnyFunSuite {

  test("TopKBuffer equals sort-take-k over random insert streams") {
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 300) {
      val n = rng.nextInt(40)
      val k = 1 + rng.nextInt(8)
      val pairs = Seq.fill(n)((rng.nextInt(200) / 2.0 - 50.0,
        rng.nextInt(50).toLong))
      val buf = new TopKBuffer(k)
      pairs.foreach { case (s, id) => buf.insert(s, id) }
      val expect = pairs.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(buf.sorted.toSeq == expect,
        s"k=$k pairs=$pairs")
    }
  }

  test("TopKBuffer merge order never changes the result") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 300) {
      val k = 1 + rng.nextInt(6)
      def mk(n: Int) = Seq.fill(n)((rng.nextInt(100) / 4.0,
        rng.nextInt(30).toLong))
      val (a, b) = (mk(rng.nextInt(25)), mk(rng.nextInt(25)))
      val ab = new TopKBuffer(k)
      a.foreach { case (s, id) => ab.insert(s, id) }
      val bb = new TopKBuffer(k)
      b.foreach { case (s, id) => bb.insert(s, id) }
      ab.merge(bb)
      val whole = new TopKBuffer(k)
      (b ++ a).foreach { case (s, id) => whole.insert(s, id) }
      assert(ab.sorted.toSeq == whole.sorted.toSeq)
    }
  }

  test("parser accepts every generated-valid pattern, step count matches") {
    val rng = new scala.util.Random(13)
    val names = Seq("customer", "orders", "lineitem", "x9_y", "*")
    val ids = Seq("42", "a:b/c.d-e", "\"quo;ted]\"", "\"es\\\"c\\\\aped\"")
    for (_ <- 1 to 300) {
      val nSteps = 1 + rng.nextInt(5)
      val steps = Seq.fill(nSteps) {
        val rel = if (rng.nextBoolean()) ">" else "<"
        val tn = names(rng.nextInt(names.length))
        val spec = rng.nextInt(3) match {
          case 0 => ""
          case 1 => "%"
          case _ => Seq.fill(1 + rng.nextInt(3))(
            ids(rng.nextInt(ids.length))).mkString("[", ";", "]")
        }
        val m = Seq("", "#", "$")(rng.nextInt(3))
        val pad = if (rng.nextBoolean()) " " else ""
        s"$pad$rel$pad$tn$spec$m"
      }
      val parsed = PatternQuery.parse(steps.mkString)
      assert(parsed.length == nSteps, steps.mkString)
    }
  }

  test("q22 seed ids exist at every generated scale factor") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val sfDirs = new java.io.File("/root/testdata").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted
    assert(sfDirs.nonEmpty)
    for (dir <- sfDirs) {
      val li = graft.sources.Tables(spark, dir, "lineitem")
      val cond = gates.QGates.q22SeedIds.map { case (ok, ln) =>
        col("l_orderkey") === ok.toLong && col("l_linenumber") === ln.toLong
      }.reduce(_ || _)
      val found = li.filter(cond)
        .select("l_orderkey", "l_linenumber").distinct().count()
      assert(found == gates.QGates.q22SeedIds.size,
        s"$dir: only $found of ${gates.QGates.q22SeedIds.size} q22 seeds " +
          "exist — the <*$ gate row would be (partly) vacuous")
    }
  }

  test("q36 seed customers exist at every generated scale factor") {
    import org.apache.spark.sql.functions._
    val spark = TestSpark.spark
    val sfDirs = new java.io.File("/root/testdata").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("sf"))
      .map(_.getPath).sorted
    for (dir <- sfDirs) {
      val found = graft.sources.Tables(spark, dir, "customer")
        .filter(col("c_custkey").isin(21L, 22L, 23L))
        .select("c_custkey").distinct().count()
      assert(found == 3,
        s"$dir: only $found of 3 q36 seed customers exist — the >*# " +
          "gate row would be (partly) vacuous")
    }
  }

  test("removeDupSpans invariants at sf0.001: counts consistent, clean " +
      "text is an in-order subsequence of the normalized tokens") {
    import org.apache.spark.sql.functions._
    import graft.dedup.Dedup
    val spark = TestSpark.spark
    val docs = graft.sources.Tables(spark, TestSpark.sf, "documents")
    val got = Dedup.removeDupSpans(docs, "doc_id", "text", n = 5)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getString(3))))
      .toMap
    val norm = docs.select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(got.keySet == norm.keySet)
    for ((id, (nTok, nRem, clean)) <- got) {
      assert(nTok == norm(id).length, s"doc $id token count")
      assert(nRem >= 0 && nRem <= nTok, s"doc $id removed range")
      val cleanToks = if (clean.isEmpty) Seq.empty[String]
        else clean.split(" ").toSeq
      assert(cleanToks.length == nTok - nRem, s"doc $id clean count")
      // in-order subsequence of the normalized token stream
      var i = 0
      for (t <- cleanToks) {
        val j = norm(id).indexOf(t, i)
        assert(j >= 0, s"doc $id: '$t' out of order / missing")
        i = j + 1
      }
    }
    // non-vacuous on the near-dup corpus: full removals, partial
    // removals, and untouched docs all occur
    assert(got.values.exists { case (n, r, _) => r == n && n > 0 })
    assert(got.values.exists { case (n, r, _) => r > 0 && r < n })
    assert(got.values.exists { case (_, r, _) => r == 0 })
  }

  test("calibrationBins is bit-identical under any partitioning " +
      "(the binary-fraction exactness contract)") {
    // Random (num, label) corpora: the operator's claim is that every
    // sum is EXACT, so repartitioning — which reorders double
    // accumulation — must change NOTHING, not even low bits.
    val spark = TestSpark.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7L)
    for (trial <- 0 until 5) {
      val rows = Seq.fill(500 + rnd.nextInt(500))(
        (rnd.nextInt(129).toLong, rnd.nextBoolean()))
      def run(parts: Int) =
        graft.operators.Eval.calibrationBins(
            rows.toDF("num", "y").repartition(parts),
            col("num"), 7, col("y"), bins = 10)
          .orderBy("kind", "bin")
          .collect().map(_.toSeq).toSeq
      val one = run(1)
      assert(one == run(7) && one == run(32),
        s"trial $trial: partitioning changed calibration output")
    }
  }

  test("media header parsers are total on arbitrary and mutated bytes") {
    import graft.multimodal.Binary
    val rng = new scala.util.Random(13)
    // pure fuzz: random blobs of every small length
    for (len <- 0 to 64; _ <- 1 to 5) {
      val p = Array.fill(len)(rng.nextInt(256).toByte)
      Binary.imageHeader(p)
      Binary.wavHeader(p)
    }
    // structured fuzz: valid headers with one mutated byte — parsers must
    // degrade (possibly to "unknown"/garbage fields), never throw
    val wav = Binary.makeWav(7L, 1000L)
    for (i <- wav.indices; delta <- Seq(1, 0x80)) {
      val m = wav.clone(); m(i) = (m(i) + delta).toByte
      Binary.wavHeader(m)
    }
    // truncations of a valid header at every length
    for (cut <- 0 to wav.length) {
      Binary.wavHeader(wav.take(cut))
      Binary.imageHeader(wav.take(cut))
    }
    // a chunk size that fits a signed Int but not the offset it is added
    // to: RIFF/WAVE, a 4-byte JUNK chunk, then a JUNK chunk declaring
    // 0x7FFFFFEF bytes (48 bytes in all) — one sentinel row, not a
    // failed task
    val le32 = (v: Int) => java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putInt(v).array()
    val huge = "RIFF".getBytes("US-ASCII") ++ le32(40) ++
      "WAVEJUNK".getBytes("US-ASCII") ++ le32(4) ++ new Array[Byte](4) ++
      "JUNK".getBytes("US-ASCII") ++ le32(0x7fffffef) ++ new Array[Byte](16)
    assert(huge.length == 48)
    assert(Binary.wavHeader(huge) == (("unknown", -1L, -1L, -1L, -1L, -1L)))
    // a 4-bit sample width: no whole bytes per sample to divide by
    val nibble = wav.clone(); nibble(34) = 4
    assert(Binary.wavHeader(nibble) == (("unknown", -1L, -1L, -1L, -1L, -1L)))
    assert(Binary.pcmStats(huge) == ((-1L, -1L, -1L, -1L, -1L)))
    val spark = TestSpark.spark
    import spark.implicits._
    val ds = Seq(Binary.PayloadRow(3L, huge)).toDS()
    assert(Binary.audioHeaders(ds).collect().toSeq ==
      Seq(Binary.AudioHeader(3L, "unknown", -1L, -1L, -1L, -1L, -1L)))
    assert(Binary.audioStatsOf(ds).collect().toSeq ==
      Seq(Binary.AudioStats(3L, -1L, -1L, -1L, -1L, -1L)))
  }

  test("container walkers (mp4Header, mkvHeader) are total on arbitrary " +
      "and mutated bytes") {
    import graft.multimodal.Binary
    // each walker with the maker of its format
    val pairs: Seq[(Long => Array[Byte], Array[Byte] => Any)] = Seq(
      (Binary.makeMp4, Binary.mp4Header), (Binary.makeMkv, Binary.mkvHeader),
      (Binary.makeWebp, Binary.webpHeader),
      (Binary.makeTiff, Binary.tiffHeader),
      (Binary.makeFlac, Binary.flacHeader), (Binary.makeMp3, Binary.mp3Header),
      (Binary.makeZip, Binary.zipListing), (Binary.makeOgg, Binary.oggMeta),
      (Binary.makeWavPcm(_, 50), Binary.pcmStats),
      (Binary.makeRealAvi, Binary.aviFrames),
      (Binary.makeH264, Binary.h264Meta), (Binary.makeIvf, Binary.ivfMeta))
    val rng = new scala.util.Random(29)
    // pure fuzz: random blobs of every small length
    for (len <- 0 to 64; _ <- 1 to 5) {
      val p = Array.fill(len)(rng.nextInt(256).toByte)
      pairs.foreach(_._2(p))
    }
    // structured fuzz: valid containers with one mutated byte — size
    // fields, VINT markers, float widths, ids all get hit — then
    // truncations at every length; walkers must degrade (possibly to
    // "unknown"/garbage fields), never throw or read out of bounds
    for (id <- Seq(0L, 1L, 5L, 6L); (make, parse) <- pairs) {
      val valid = make(id)
      for (i <- valid.indices; delta <- Seq(1, 0x80)) {
        val m = valid.clone(); m(i) = (m(i) + delta).toByte
        parse(m)
      }
      for (cut <- 0 to valid.length) parse(valid.take(cut))
    }
  }

  test("parser rejects truncated/garbled patterns") {
    for (bad <- Seq(">", "customer", ">customer[", ">customer[\"x]",
        ">customer]#", "> cust omer", "<>", ">customer[a,]#"))
      intercept[IllegalArgumentException](PatternQuery.parse(bad))
  }
}
