package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.BinaryType
import graft.multimodal.Binary
import graft.sources.Tables

class BinarySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf

  test("makeImage blobs round-trip through imageHeader with doc-derived " +
      "format and dimensions (the m01 gate contract)") {
    for (id <- 0L until 2000L) {
      val expFormat = (id % 3) match {
        case 0 => "png"; case 1 => "jpeg"; case _ => "gif"
      }
      assert(Binary.imageHeader(Binary.makeImage(id)) ==
        ((expFormat, 1 + id % 640, 1 + id * 7 % 480)),
        s"doc $id")
    }
  }

  test("pixelStats decodes makeRealPng EXACTLY (the m03 gate contract)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 7L, 62L, 63L, 255L, 1000L)
    val stats = Binary.pixelStats(
        ids.toDS().map(id => Binary.PayloadRow(id, Binary.makeRealPng(id))))
      .collect().map(s => s.doc_id -> s).toMap
    for (id <- ids) {
      val w = 8 + id % 9; val h = 8 + id % 7
      // ground truth from the closed-form pattern, no imageio involved
      val grid = for (y <- 0L until h; x <- 0L until w) yield (x, y)
      val sr = grid.map { case (x, y) => (id + x + y) % 256 }.sum
      val sg = grid.map { case (x, y) => (id + 2 * x + y) % 256 }.sum
      val sb = grid.map { case (x, y) => (id + x + 2 * y) % 256 }.sum
      val s = stats(id)
      assert((s.width, s.height, s.n_pixels) == ((w, h, w * h)), s"doc $id")
      assert((s.sum_r, s.sum_g, s.sum_b) == ((sr, sg, sb)),
        s"doc $id channel sums")
    }
    // undecodable bytes take the sentinel branch, not an exception
    val junk = Binary.pixelStats(
        Seq(Binary.PayloadRow(9L, "not an image".getBytes("UTF-8")),
          Binary.PayloadRow(10L, Binary.makeImage(0L))).toDS())
      .collect().map(s => s.doc_id -> s.width).toMap
    assert(junk == Map(9L -> -1L, 10L -> -1L),
      "junk AND header-only blobs (no IDAT) must both hit the sentinel")
  }

  test("pixelStats also decodes JPEG (JDK reader): exact dims, near-exact " +
      "solid-color means") {
    import spark.implicits._
    val solid = new java.awt.image.BufferedImage(
      12, 9, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 9; x <- 0 until 12) solid.setRGB(x, y, 0x506070)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(solid, "jpg", bos)
    val s = Binary.pixelStats(
        Seq(Binary.PayloadRow(1L, bos.toByteArray)).toDS())
      .collect().head
    assert((s.width, s.height, s.n_pixels) == ((12L, 9L, 108L)))
    // JPEG is lossy but a solid color is DC-only: means land within ~2
    for ((sum, exp) <- Seq(s.sum_r -> 0x50, s.sum_g -> 0x60, s.sum_b -> 0x70))
      assert(math.abs(sum.toDouble / s.n_pixels - exp) < 2.0,
        s"mean ${sum.toDouble / s.n_pixels} vs $exp")
  }

  test("sampleFrames: REAL GIF multi-frame extraction recovers the " +
      "closed-form pixel pattern exactly (the m04 gate contract)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 3L, 7L, 42L, 255L, 256L, 1000L)
    val ds = ids.map(id => Binary.PayloadRow(id, Binary.makeRealGif(id)))
      .toDS()
    val stats = BinaryRef.frameStats(BinaryRef.sampleFrames(ds, stride = 2))
      .collect()
    val byDoc = stats.groupBy(_.doc_id)
    for (id <- ids) {
      val w = 6 + id % 5
      val h = 6 + id % 3
      val nFrames = 2 + id % 4
      val wantIdx = (0L until nFrames by 2).toSeq
      val got = byDoc(id).sortBy(_.frame_idx)
      assert(got.map(_.frame_idx).toSeq == wantIdx,
        s"doc $id frame indices")
      for (f <- got) {
        assert(f.width == w && f.height == h && f.n_pixels == w * h,
          s"doc $id frame ${f.frame_idx} dims")
        // grayscale: all three channel sums equal the closed form
        val expect = (for { x <- 0L until w; y <- 0L until h }
          yield (id + 11 * f.frame_idx + x + y) % 256).sum
        assert(f.sum_r == expect && f.sum_g == expect && f.sum_b == expect,
          s"doc $id frame ${f.frame_idx}: got ${f.sum_r} want $expect")
      }
    }
  }

  test("sampleFrames: stride 1 keeps every frame; unreadable containers " +
      "emit one doc-level sentinel row") {
    import spark.implicits._
    val ds = Seq(
        Binary.PayloadRow(5L, Binary.makeRealGif(5L)),
        Binary.PayloadRow(99L, "definitely not an image".getBytes("UTF-8")))
      .toDS()
    val frames = BinaryRef.sampleFrames(ds, stride = 1).collect()
    assert(frames.filter(_.doc_id == 5L).map(_.frame_idx).sorted.toSeq ==
      (0L until (2 + 5 % 4)).toSeq)
    // an undecodable CONTAINER is distinguishable from a zero-frame one:
    // exactly one frame_idx = -1 sentinel with an empty payload
    val bad = frames.filter(_.doc_id == 99L)
    assert(bad.map(f => (f.frame_idx, f.payload.length)).toSeq ==
      Seq((-1L, 0)))
  }

  test("mp4Header: closed-form fields recovered for v0 AND v1 layouts") {
    for (id <- 0L to 12L) {
      val (brand, ts, ms, n, w, h) = Binary.mp4Header(Binary.makeMp4(id))
      val tsE = 600L * (1 + id % 4)
      val dur = (1 + id % 30) * tsE + id % 7
      assert(brand == Seq("isom", "mp42", "avc1")((id % 3).toInt))
      assert(ts == tsE, s"timescale for doc $id")
      assert(ms == dur * 1000L / tsE, s"duration_ms for doc $id")
      assert(n == 1 + id % 3, s"track count for doc $id")
      assert(w == 320 + (id % 5) * 16, s"width for doc $id")
      assert(h == 240 + (id % 4) * 16, s"height for doc $id")
    }
    // non-MP4 payloads: unknown, never a throw
    assert(Binary.mp4Header("not an mp4 at all".getBytes("UTF-8"))._1
      == "unknown")
    assert(Binary.mp4Header(Binary.makeRealAvi(3L))._1 == "unknown")
    assert(Binary.mp4Header(Array.empty[Byte])._1 == "unknown")
    // truncated mid-box: the declared-size guard stops the walk
    assert(Binary.mp4Header(Binary.makeMp4(4L).dropRight(30))._1
      == "unknown")
    // a box whose size EQUALS its header (empty mvhd at buffer end) is
    // empty, not an out-of-bounds read on the version byte
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    val emptyMvhd = be32(8L) ++ "ftyp".getBytes("US-ASCII") ++
      be32(16L) ++ "moov".getBytes("US-ASCII") ++
      be32(8L) ++ "mvhd".getBytes("US-ASCII")
    assert(Binary.mp4Header(emptyMvhd)._1 == "unknown")
    val emptyTkhd = be32(8L) ++ "ftyp".getBytes("US-ASCII") ++
      be32(24L) ++ "moov".getBytes("US-ASCII") ++
      be32(16L) ++ "trak".getBytes("US-ASCII") ++
      be32(8L) ++ "tkhd".getBytes("US-ASCII")
    assert(Binary.mp4Header(emptyTkhd)._1 == "unknown")
  }

  test("mkvHeader: closed-form fields recovered across float widths, " +
      "unknown-size segments, and non-minimal size VINTs") {
    // 0..29 covers every variant: id%2 (webm/float32 vs matroska/
    // float64), id%5==0 (unknown-size Segment), id%3==0 (2-byte VINT
    // on Info), id%3 track counts, id%6/id%5 dims
    for (id <- 0L to 29L) {
      val (dt, ts, ms, n, w, h) = Binary.mkvHeader(Binary.makeMkv(id))
      val ticks = (1 + id % 30) * 1000 + id % 7
      assert(dt == (if (id % 2 == 1) "webm" else "matroska"),
        s"doc_type for doc $id")
      assert(ts == 1000000L * (1 + id % 3), s"timescale for doc $id")
      assert(ms == ticks * (1 + id % 3), s"duration_ms for doc $id")
      assert(n == 1 + id % 3, s"track count for doc $id")
      assert(w == 160 + (id % 6) * 32, s"width for doc $id")
      assert(h == 120 + (id % 5) * 24, s"height for doc $id")
    }
    // non-EBML payloads: unknown, never a throw
    assert(Binary.mkvHeader("not matroska".getBytes("UTF-8"))._1
      == "unknown")
    assert(Binary.mkvHeader(Binary.makeMp4(3L))._1 == "unknown")
    assert(Binary.mkvHeader(Array.empty[Byte])._1 == "unknown")
    assert(Binary.mkvHeader(Array[Byte](0, 0, 0, 0))._1 == "unknown")
    // truncated mid-element: the declared-extent guard stops the walk
    assert(Binary.mkvHeader(Binary.makeMkv(4L).dropRight(25))._1
      == "unknown")
  }

  test("colorHistograms: bins match a driver-side replica of the " +
      "closed-form pixels; sentinel on garbage; bins sum to n_pixels") {
    import graft.multimodal.Binary
    import spark.implicits._
    val ids = Seq(0L, 3L, 7L, 13L, 255L)
    val got = Binary.colorHistograms(
        ids.toDS.map(id => Binary.PayloadRow(id, Binary.makeRealPng(id))))
      .collect().groupBy(_.doc_id)
    for (id <- ids) {
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      val hr = new Array[Long](16); val hg = new Array[Long](16)
      val hb = new Array[Long](16)
      for (y <- 0 until h; x <- 0 until w) {
        hr((((id + x + y) % 256) / 16).toInt) += 1
        hg((((id + 2 * x + y) % 256) / 16).toInt) += 1
        hb((((id + x + 2 * y) % 256) / 16).toInt) += 1
      }
      val rows = got(id).sortBy(_.bin)
      assert(rows.length == 16)
      assert(rows.map(_.n_r).toSeq == hr.toSeq, s"doc $id red bins")
      assert(rows.map(_.n_g).toSeq == hg.toSeq, s"doc $id green bins")
      assert(rows.map(_.n_b).toSeq == hb.toSeq, s"doc $id blue bins")
      assert(rows.map(_.n_r).sum == w.toLong * h)
    }
    // undecodable payload: one sentinel row, not silence or a throw
    val bad = Binary.colorHistograms(
        Seq(99L).toDS.map(id =>
          Binary.PayloadRow(id, "not a png".getBytes("UTF-8"))))
      .collect()
    assert(bad.toSeq == Seq(Binary.ColorHist(99L, -1L, -1L, -1L, -1L)))
  }

  test("tiffHeader: closed-form fields recovered in both byte orders, " +
      "first-IFD-wins dims, page-chain count, cycle guard") {
    import graft.multimodal.Binary
    // 0..29 covers both byte orders x orientation x page-count cases
    for (id <- 0L to 29L) {
      val (o, w, h, or, n) = Binary.tiffHeader(Binary.makeTiff(id))
      assert(o == (if (id % 2 == 0) "II" else "MM"),
        s"byte order for doc $id")
      assert(w == 100 + id % 50, s"width for doc $id")
      assert(h == 80 + id % 40, s"height for doc $id")
      assert(or == 1 + id % 8, s"orientation for doc $id")
      assert(n == (if (id % 3 == 0) 2L else 1L), s"pages for doc $id")
    }
    // the second IFD's own ImageWidth (w/2) must NOT override IFD0's —
    // first-IFD-wins like mp4Header's first-track discipline
    val (_, w0, _, _, n0) = Binary.tiffHeader(Binary.makeTiff(6L))
    assert(w0 == 100 + 6 % 50 && n0 == 2L)
    // non-TIFF payloads: unknown, never a throw
    assert(Binary.tiffHeader("not a tiff".getBytes("UTF-8"))._1
      == "unknown")
    assert(Binary.tiffHeader(Binary.makeWebp(3L))._1 == "unknown")
    assert(Binary.tiffHeader(Array.empty[Byte])._1 == "unknown")
    // wrong magic (43) is rejected even with a valid order mark
    val wrongMagic = Binary.makeTiff(2L).clone()
    wrongMagic(2) = 43
    assert(Binary.tiffHeader(wrongMagic)._1 == "unknown")
    // truncated mid-IFD: bounds guards degrade, never read OOB
    val cut = Binary.tiffHeader(Binary.makeTiff(4L).take(20))
    assert(cut._5 >= 0L || cut._1 == "unknown")
    // a self-looping next-IFD pointer terminates via the cycle guard
    val selfLoop = Binary.makeTiff(1L).clone()
    // next-IFD field of IFD0 sits at offset 8 + 2 + 36 (big-endian MM)
    selfLoop(46) = 0; selfLoop(47) = 0; selfLoop(48) = 0; selfLoop(49) = 8
    val looped = Binary.tiffHeader(selfLoop)
    assert(looped._5 <= 64L, "cycle guard must bound the page chain")
  }

  test("flacHeader: closed-form STREAMINFO fields recovered incl the " +
      "36-bit total past u32; block walk honors last flag and lengths") {
    import graft.multimodal.Binary
    // 0..39 covers rates x channels x bits x padding x the 2^33 total
    for (id <- 0L to 39L) {
      val (sr, c, b, t, d, n) = Binary.flacHeader(Binary.makeFlac(id))
      val total = 10000L + id % 9973 + (if (id % 5 == 0) 1L << 33 else 0L)
      assert(sr == 8000 * (1 + id % 6), s"rate for doc $id")
      assert(c == 1 + id % 8, s"channels for doc $id")
      assert(b == 8 + (id % 4) * 4, s"bits for doc $id")
      assert(t == total, s"total for doc $id")
      assert(d == total * 1000 / sr, s"duration for doc $id")
      assert(n == 1 + id % 3, s"blocks for doc $id")
    }
    // non-FLAC payloads: sentinel, never a throw
    assert(Binary.flacHeader("not a flac".getBytes("UTF-8"))._1 == -1L)
    assert(Binary.flacHeader(Binary.makeWav(3L, 10L))._1 == -1L)
    assert(Binary.flacHeader(Array.empty[Byte])._1 == -1L)
    // truncated mid-block: the declared-length guard stops the walk
    assert(Binary.flacHeader(Binary.makeFlac(7L).dropRight(3))._1 == -1L)
    // a STREAMINFO shorter than 34 bytes is never bit-unpacked
    val short = Binary.makeFlac(1L).clone()
    short(7) = 33 // declared length 33
    assert(Binary.flacHeader(short.dropRight(1))._1 == -1L)
  }

  test("mp3Header: closed-form fields recovered across all bitrate/" +
      "rate/mode rows; syncsafe skip; per-frame sync re-verified") {
    import graft.multimodal.Binary
    // 0..59 covers all 14 bitrates x 3 rates x 4 modes x padding
    for (id <- 0L to 59L) {
      val (br, sr, c, n, d, id3) = Binary.mp3Header(Binary.makeMp3(id))
      val brs = Seq(32L, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
        224, 256, 320)
      val srs = Seq(44100L, 48000L, 32000L)
      assert(br == brs((id % 14).toInt), s"bitrate for doc $id")
      assert(sr == srs((id % 3).toInt), s"rate for doc $id")
      assert(c == (if (id % 4 == 3) 1L else 2L), s"channels for doc $id")
      assert(n == 5 + id % 20, s"frames for doc $id")
      assert(d == (5 + id % 20) * 1152L * 1000L / sr,
        s"duration for doc $id")
      assert(id3 == 20 + id % 200, s"id3 size for doc $id")
    }
    // non-MP3 payloads: sentinel, never a throw
    assert(Binary.mp3Header("not an mp3".getBytes("UTF-8"))._1 == -1L)
    assert(Binary.mp3Header(Binary.makeWav(3L, 10L))._1 == -1L)
    assert(Binary.mp3Header(Array.empty[Byte])._1 == -1L)
    // a truncated last frame is not counted (the hop bound check)
    val whole = Binary.makeMp3(7L)
    val cut = Binary.mp3Header(whole.dropRight(5))
    assert(cut._4 == 5 + 7 % 20 - 1, "truncated tail frame must drop")
    // a corrupted mid-stream sync stops the walk at that frame
    val id3len = 20 + 7 % 200
    // doc 7: bitrate idx 8 -> 112 kbps, rate idx 1 -> 48000, pad 1
    val frame1len = (144000L * 112 / 48000 + 1).toInt
    val desync = whole.clone()
    desync(id3len + frame1len) = 0x00
    assert(Binary.mp3Header(desync)._4 == 1L, "desync must stop the walk")
    // an ID3 size pointing past the buffer is rejected, not chased
    val lying = whole.clone(); lying(9) = 0x7f; lying(8) = 0x7f
    assert(Binary.mp3Header(lying)._1 == -1L)
  }

  test("zipListing: closed-form central-directory totals; backward " +
      "EOCD scan past the comment; mis-stride and non-ZIP rejected") {
    import graft.multimodal.Binary
    for (id <- 0L to 29L) {
      val (n, c, u, d, crc) = Binary.zipListing(Binary.makeZip(id))
      val k = 1 + id % 5
      val comps = (0L until k).map(j => 10 + (id + j) % 50)
      assert(n == k, s"entries for doc $id")
      assert(c == comps.sum, s"comp total for doc $id")
      assert(u == comps.sum + (0L until k).map(j => (id + j) % 7).sum,
        s"uncomp total for doc $id")
      assert(d == (0L until k).count(j => (id + j) % 2 == 1),
        s"deflated for doc $id")
      assert(crc == (0L until k).map(j => id * 31 + j).sum,
        s"crc sum for doc $id")
    }
    // u32 truncation boundary: once doc_id*31 >= 2^32 (~138.5M, real
    // at large scale factors) the stored CRC is (id*31+j) mod 2^32 —
    // the oracle's closed form must carry the same mod (m18 oracle)
    for (id <- Seq(138547332L, 200000000L, 3000000000L)) {
      val (_, _, _, _, crc) = Binary.zipListing(Binary.makeZip(id))
      val k = 1 + id % 5
      assert(crc == (0L until k).map(j => (id * 31 + j) & 0xffffffffL).sum,
        s"masked crc sum for doc $id")
    }
    // non-ZIP payloads: sentinel, never a throw
    assert(Binary.zipListing("not a zip archive bytes".getBytes)._1
      == -1L)
    assert(Binary.zipListing(Binary.makeWav(3L, 10L))._1 == -1L)
    assert(Binary.zipListing(Array.empty[Byte])._1 == -1L)
    // corrupting one central-directory signature stops the walk
    val z = Binary.makeZip(7L)
    // find the first CD entry signature and break it
    val cd = (0 until z.length - 4).indexWhere(i =>
      z(i) == 0x50 && z(i + 1) == 0x4b && z(i + 2) == 0x01 &&
        z(i + 3) == 0x02)
    val broken = z.clone(); broken(cd + 2) = 0x07
    assert(Binary.zipListing(broken)._1 == -1L,
      "a bad entry signature must reject, not mis-slice")
    // truncation that removes the EOCD rejects
    assert(Binary.zipListing(z.dropRight(10 + (7 % 20)))._1 == -1L)
  }

  test("h264Meta: NAL census + exp-Golomb SPS dims match the closed " +
      "forms; cropped/interlaced SPS arms; non-stream and mutation " +
      "totality") {
    import graft.multimodal.Binary
    for (id <- 0L to 29L) {
      val (n, sps, pps, idr, sl, w, h) =
        Binary.h264Meta(Binary.makeH264(id))
      val nf = 2 + id % 6
      assert(n == 2 + nf, s"nal count for doc $id")
      assert(sps == 1 && pps == 1 && idr == 1, s"census for doc $id")
      assert(sl == nf, s"slices for doc $id")
      assert(w == 16 * (4 + id % 5), s"width for doc $id")
      assert(h == 16 * (3 + id % 4), s"height for doc $id")
    }
    // hand-built SPS exercising the arms the fixture keeps off:
    // poc type 0, INTERLACED (frame_mbs_only = 0) and frame cropping —
    // H.264 §7.4.2.1: width = 16(wm+1) − 2(cl+cr),
    // height = 16(hm+1)·2 − 2·2·(ct+cb) for 4:2:0 field coding
    val spsBits = {
      // replicate the fixture's writer via a tiny local twin
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0L; var nb = 0
      def u(v: Long, n: Int): Unit = {
        var i = n - 1
        while (i >= 0) {
          acc = (acc << 1) | ((v >> i) & 1L); nb += 1
          if (nb == 8) { out.write(acc.toInt); acc = 0; nb = 0 }
          i -= 1
        }
      }
      def ue(v: Long): Unit = {
        val lz = 63 - java.lang.Long.numberOfLeadingZeros(v + 1)
        u(0L, lz); u(v + 1, lz + 1)
      }
      u(66, 8); u(0, 8); u(30, 8)
      ue(0); ue(0); ue(0); ue(4) // sps_id, frame_num, POC TYPE 0, lsb
      ue(1); u(0, 1)
      ue(9); ue(4)               // 10x5 mbs
      u(0, 1); u(0, 1)           // INTERLACED + mb_adaptive
      u(1, 1); u(1, 1)           // direct_8x8, CROPPING ON
      ue(1); ue(2); ue(1); ue(0) // crops l/r/t/b
      u(0, 1); u(1, 1)           // vui off, stop bit
      while (nb != 0) u(0, 1)
      out.toByteArray
    }
    val stream = Array[Byte](0, 0, 0, 1, 0x67) ++ spsBits ++
      Array[Byte](0, 0, 1, 0x65, 0x11, 0x22) // one IDR slice
    val (_, _, _, _, _, cw, ch) = Binary.h264Meta(stream)
    assert(cw == 16 * 10 - 2 * (1 + 2), s"cropped width, got $cw")
    assert(ch == 16 * 5 * 2 - 4 * (1 + 0), s"interlaced height, got $ch")
    // emulation prevention: the writer inserts 0x03 after 00 00 and
    // the reader strips it — a wide ue run forces real zero bytes
    val wide = Binary.makeH264(0L) // contains SPS; mutate nothing
    assert(Binary.h264Meta(wide)._1 > 0)
    // totality: non-streams and every 1-byte mutation parse or reject,
    // never throw
    assert(Binary.h264Meta("plainly not a video".getBytes)._1 == -1L)
    assert(Binary.h264Meta(Array.empty[Byte])._1 == -1L)
    val g = Binary.makeH264(5L)
    for (i <- g.indices) {
      val m = g.clone(); m(i) = (m(i) ^ 0x41).toByte
      Binary.h264Meta(m) // must be total
    }
  }

  test("ivfMeta: closed-form header/frame census; truncation stops " +
      "the walk with declared > walked; non-IVF rejected") {
    import graft.multimodal.Binary
    for (id <- 0L to 29L) {
      val (c, w, h, nd, nw, b, pts) = Binary.ivfMeta(Binary.makeIvf(id))
      val nf = 1 + id % 6
      assert(c == "VP90" && nd == nf && nw == nf, s"census for doc $id")
      assert(w == 64 + 8 * (id % 9) && h == 48 + 8 * (id % 7),
        s"dims for doc $id")
      assert(b == (0L until nf).map(f => 12 + (id + f) % 33).sum,
        s"payload bytes for doc $id")
      assert(pts == nf - 1, s"last pts for doc $id")
    }
    // truncating the last frame's payload: walked < declared — the
    // divergence IS the corruption signal
    val v = Binary.makeIvf(11L) // nf = 6
    val cut = java.util.Arrays.copyOf(v, v.length - 4)
    val (_, _, _, nd, nw, _, _) = Binary.ivfMeta(cut)
    assert(nd == 6 && nw == 5, s"declared $nd vs walked $nw")
    assert(Binary.ivfMeta("DKIG not an ivf file".getBytes)._1
      == "unknown")
    assert(Binary.ivfMeta(Array.empty[Byte])._1 == "unknown")
    for (i <- v.indices) {
      val m = v.clone(); m(i) = (m(i) ^ 0x41).toByte
      Binary.ivfMeta(m) // total
    }
  }

  test("webpHeader: closed-form fields recovered across all three " +
      "variants; degrades on non-WebP, truncated, and skip-chunk inputs") {
    import graft.multimodal.Binary
    // 0..29 covers every variant x alpha combination
    for (id <- 0L to 29L) {
      val (v, w, h, a) = Binary.webpHeader(Binary.makeWebp(id))
      val variant = Seq("vp8x", "vp8l", "vp8")((id % 3).toInt)
      assert(v == variant, s"variant for doc $id")
      assert(w == 16 + id % 301, s"width for doc $id")
      assert(h == 16 + id % 211, s"height for doc $id")
      assert(a == (if (id % 3 == 2) 0L else 1 - id % 2),
        s"alpha for doc $id")
    }
    // unknown chunks before the bitstream chunk are walked over (odd
    // sizes pad to even), as a real encoder's ICCP/EXIF would be
    val base = Binary.makeWebp(1L) // vp8l variant
    val junk = "ICCP".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3, 0) // declared 3, padded to 4
    val shifted = base.take(12) ++ junk ++ base.drop(12)
    // RIFF size field is not re-derived by the walker; parse succeeds
    assert(Binary.webpHeader(shifted)._1 == "vp8l")
    assert(Binary.webpHeader(shifted)._2 == 16 + 1 % 301)
    // non-WebP payloads: unknown, never a throw
    assert(Binary.webpHeader("not webp".getBytes("UTF-8"))._1 == "unknown")
    assert(Binary.webpHeader(Binary.makeWav(3L, 10L))._1 == "unknown")
    assert(Binary.webpHeader(Array.empty[Byte])._1 == "unknown")
    // truncated mid-chunk: the declared-size guard stops the walk
    assert(Binary.webpHeader(Binary.makeWebp(3L).dropRight(6))._1
      == "unknown")
    // a VP8 chunk without the sync code is not parsed as lossy
    val vp8 = Binary.makeWebp(2L)
    val noSync = vp8.clone(); noSync(12 + 8 + 3) = 0x00
    assert(Binary.webpHeader(noSync)._1 == "unknown")
  }

  test("mkvHeader: TimestampScale absent falls back to the spec default " +
      "1e6, and audio-only tracks leave dims at -1") {
    def beN(v: Long, n: Int): Array[Byte] =
      Array.tabulate(n)(k => ((v >> (8 * (n - 1 - k))) & 0xff).toByte)
    def el(id: Long, idLen: Int, body: Array[Byte]): Array[Byte] =
      beN(id, idLen) ++ Array((0x80 | body.length).toByte) ++ body
    val ebml = el(0x1A45DFA3L, 4,
      el(0x4282L, 2, "matroska".getBytes("US-ASCII")))
    // Info with ONLY Duration (500 ticks, float64); one audio track
    val info = el(0x1549A966L, 4, el(0x4489L, 2,
      beN(java.lang.Double.doubleToLongBits(500.0), 8)))
    val track = el(0xAEL, 1, el(0x83L, 1, beN(2L, 1)))
    val seg = el(0x18538067L, 4, info ++ el(0x1654AE6BL, 4, track))
    val (dt, ts, ms, n, w, h) = Binary.mkvHeader(ebml ++ seg)
    assert(dt == "matroska")
    assert(ts == 1000000L)
    assert(ms == 500L) // 500 ticks x 1e6 ns = 500 ms
    assert(n == 1L)
    assert(w == -1L && h == -1L)

    // FIRST-WINS discipline: a resilience-style repeated Tracks master,
    // a second concatenated Segment, and a second video track must not
    // inflate n_tracks, overwrite Info fields, or chimera the dims
    val videoTrk = el(0xAEL, 1,
      el(0x83L, 1, beN(1L, 1)) ++
        el(0xE0L, 1, el(0xBAL, 1, beN(100L, 2)))) // height ONLY
    val videoTrk2 = el(0xAEL, 1,
      el(0x83L, 1, beN(1L, 1)) ++
        el(0xE0L, 1, el(0xB0L, 1, beN(200L, 2)) ++
          el(0xBAL, 1, beN(50L, 2))))
    val tracksTwice = el(0x1654AE6BL, 4, videoTrk ++ videoTrk2) ++
      el(0x1654AE6BL, 4, videoTrk ++ videoTrk2) // duplicated header
    val info2 = el(0x1549A966L, 4,
      el(0x2AD7B1L, 3, beN(2000000L, 4)) ++
        el(0x4489L, 2, beN(java.lang.Double.doubleToLongBits(9.0), 8)))
    val seg1 = el(0x18538067L, 4, info ++ tracksTwice)
    val seg2 = el(0x18538067L, 4, info2 ++ el(0x1654AE6BL, 4, videoTrk))
    val (dt2, ts2, ms2, n2, w2, h2) = Binary.mkvHeader(ebml ++ seg1 ++ seg2)
    assert(dt2 == "matroska")
    assert(ts2 == 1000000L && ms2 == 500L,
      "second Segment's Info must not overwrite the first's")
    assert(n2 == 2L,
      "duplicated Tracks master / second Segment must not inflate n_tracks")
    assert(w2 == -1L && h2 == 100L,
      "dims belong ATOMICALLY to the first video track (no chimera from " +
        s"track 2): got ($w2, $h2)")
  }

  test("mp4Header: 64-bit largesize moov parses identically") {
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def be64(v: Long) = be32(v >> 32) ++ be32(v & 0xffffffffL)
    val std = Binary.makeMp4(4L)
    val ftyp = std.slice(0, 20) // 8 hdr + brand + minor + compat
    val moovBody = std.drop(20 + 8)
    val large = be32(1L) ++ "moov".getBytes("US-ASCII") ++
      be64(16L + moovBody.length) ++ moovBody
    assert(Binary.mp4Header(ftyp ++ large) == Binary.mp4Header(std))
  }

  test("RIFF walks step over an odd-sized chunk and its pad byte " +
      "(wavHeader, pcmStats, webpHeader)") {
    // a 3-byte JUNK chunk, padded to 4, right after the RIFF header
    val junk = "JUNK".getBytes("US-ASCII") ++
      Array[Byte](3, 0, 0, 0, 1, 2, 3, 0)
    def withJunk(p: Array[Byte]) = p.take(12) ++ junk ++ p.drop(12)
    val wav = Binary.makeWavPcm(3L, 10)
    assert(Binary.wavHeader(wav)._1 == "wav")
    assert(Binary.wavHeader(withJunk(wav)) == Binary.wavHeader(wav))
    assert(Binary.pcmStats(withJunk(wav)) == Binary.pcmStats(wav))
    for (id <- 0L to 2L) { // vp8x, vp8l, vp8
      val webp = Binary.makeWebp(id)
      assert(Binary.webpHeader(withJunk(webp)) == Binary.webpHeader(webp))
    }
  }

  test("mp4Header: a size-0 moov runs to the end of the file") {
    val std = Binary.makeMp4(5L)
    val toEnd = std.clone()
    java.util.Arrays.fill(toEnd, 20, 24, 0.toByte) // moov's 32-bit size
    assert(Binary.mp4Header(toEnd) == Binary.mp4Header(std))
    assert(Binary.mp4Header(toEnd ++ new Array[Byte](8)) ==
      Binary.mp4Header(std), "trailing bytes stay inside a size-0 moov")
  }

  test("frameStatsFused == frameStats(sampleFrames) on GIFs, sentinels " +
      "included") {
    import spark.implicits._
    val ds = Seq(5L, 6L, 7L, 8L)
      .map(id => Binary.PayloadRow(id, Binary.makeRealGif(id)))
      .toDS()
    val composed = BinaryRef.frameStats(BinaryRef.sampleFrames(ds, stride = 2))
      .collect().toSet
    val fused = Binary.frameStatsFused(ds, stride = 2).collect().toSet
    assert(fused == composed,
      "fusing away the PNG round trip must not change a single stat")
    // unreadable container: the composed path's -1-frame empty-payload
    // row decodes to all -1s; fused emits the identical stats row
    val bad = Seq(Binary.PayloadRow(99L, Array[Byte](1, 2, 3))).toDS()
    assert(Binary.frameStatsFused(bad, stride = 1).collect().toSeq ==
      BinaryRef.frameStats(BinaryRef.sampleFrames(bad, stride = 1))
        .collect().toSeq)
  }

  test("videoFrameStatsFused == frameStats(sampleVideoFrames) on AVIs, " +
      "non-AVI payloads sentinel both ways") {
    import spark.implicits._
    val ds = Seq(3L, 4L, 5L)
      .map(id => Binary.PayloadRow(id, Binary.makeRealAvi(id)))
      .toDS()
    val composed = BinaryRef
      .frameStats(BinaryRef.sampleVideoFrames(ds, stride = 2))
      .collect().toSet
    val fused = Binary.videoFrameStatsFused(ds, stride = 2)
      .collect().toSet
    assert(fused == composed)
    val bad = Seq(Binary.PayloadRow(99L, "RIFFxxxxWAVE".getBytes("UTF-8")),
        Binary.PayloadRow(7L, Binary.makeRealAvi(7L))).toDS()
    val badFused = Binary.videoFrameStatsFused(bad, stride = 1).collect()
    assert(badFused.filter(_.doc_id == 99L).map(_.frame_idx).toSeq ==
      Seq(-1L), "a non-AVI payload must leave a doc-level sentinel")
    assert(badFused.count(_.doc_id == 7L) == (2 + 7 % 3))
  }

  test("sampleVideoFrames: REAL AVI demux + Motion-PNG decode recovers " +
      "the closed-form pixels exactly (the m05 gate contract)") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 5L, 17L, 254L, 255L, 256L, 999L)
    val ds = ids.map(id => Binary.PayloadRow(id, Binary.makeRealAvi(id)))
      .toDS()
    val stats = BinaryRef
      .frameStats(BinaryRef.sampleVideoFrames(ds, stride = 2))
      .collect().groupBy(_.doc_id)
    for (id <- ids) {
      val w = 5 + id % 6
      val h = 5 + id % 4
      val nFrames = 2 + id % 3
      val got = stats(id).sortBy(_.frame_idx)
      assert(got.map(_.frame_idx).toSeq == (0L until nFrames by 2).toSeq,
        s"doc $id frame indices")
      for (f <- got) {
        assert(f.width == w && f.height == h && f.n_pixels == w * h)
        def cf(rx: Long, ry: Long): Long =
          (for { x <- 0L until w; y <- 0L until h }
            yield (id + 17 * f.frame_idx + rx * x + ry * y) % 256).sum
        assert(f.sum_r == cf(1, 1) && f.sum_g == cf(2, 1) &&
          f.sum_b == cf(1, 2),
          s"doc $id frame ${f.frame_idx}: (${f.sum_r},${f.sum_g},${f.sum_b})")
      }
    }
  }

  test("aviFrames: the demuxer walks real RIFF structure and rejects " +
      "non-AVI or truncated payloads") {
    val avi = Binary.makeRealAvi(7L) // 3 frames
    assert(Binary.aviFrames(avi).length == 3)
    // container sanity: RIFF/'AVI ' signature, and wavHeader rejects it
    assert(new String(avi.slice(0, 4), "US-ASCII") == "RIFF")
    assert(new String(avi.slice(8, 12), "US-ASCII") == "AVI ")
    assert(Binary.wavHeader(avi)._1 == "unknown")
    // truncation mid-movi loses trailing frames, never throws
    assert(Binary.aviFrames(avi.take(avi.length - 10)).length < 3)
    assert(Binary.aviFrames("RIFFxxxxWAVE".getBytes("US-ASCII")).isEmpty)
    assert(Binary.aviFrames(Array[Byte](1, 2, 3)).isEmpty)
  }

  test("aviFrames: a second interleaved video stream is excluded, not " +
      "mixed into the frame sequence") {
    // hand-build a movi list interleaving 00dc and 01dc chunks
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte,
      (v >> 24).toByte)
    def chunk(id: String, body: Array[Byte]) =
      id.getBytes("US-ASCII") ++ le32(body.length) ++ body ++
        (if (body.length % 2 == 1) Array(0.toByte) else Array[Byte]())
    val movi = "movi".getBytes("US-ASCII") ++
      chunk("00dc", Array[Byte](1)) ++ chunk("01dc", Array[Byte](9)) ++
      chunk("00dc", Array[Byte](2)) ++ chunk("01dc", Array[Byte](8))
    val body = "AVI ".getBytes("US-ASCII") ++ chunk("LIST", movi)
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val frames = Binary.aviFrames(avi)
    assert(frames.map(_.toSeq) == Seq(Seq(1.toByte), Seq(2.toByte)),
      s"got ${frames.map(_.toSeq)}")
  }

  test("sampleFrames: a corrupt frame yields a sentinel row, not silent " +
      "loss of its siblings") {
    import spark.implicits._
    // A GIF whose SECOND frame's LZW data is corrupted in place: frame 0
    // must still decode exactly; the corrupt frame must surface as a row
    // with an undecodable payload (frameStats -1 sentinels), never vanish.
    val good = Binary.makeRealGif(3L) // 5 frames (2 + 3%4)
    val stats0 = BinaryRef.frameStats(BinaryRef.sampleFrames(
        Seq(Binary.PayloadRow(3L, good)).toDS(), stride = 1))
      .collect().sortBy(_.frame_idx)
    assert(stats0.length == 5 && stats0.forall(_.width > 0))
    // corrupt a byte span in the back half of the payload (frame data;
    // the header/palette live at the front)
    val bad = good.clone()
    for (k <- (bad.length * 3 / 4) until
        math.min(bad.length * 3 / 4 + 8, bad.length))
      bad(k) = 0x55.toByte
    val out = BinaryRef.sampleFrames(
        Seq(Binary.PayloadRow(3L, bad)).toDS(), stride = 1)
      .collect().sortBy(_.frame_idx)
    if (out.nonEmpty) {
      // frames the reader could still index are all present; any that
      // failed decode carry the empty-payload sentinel
      assert(out.map(_.frame_idx) == (0L until out.length).toArray.toSeq)
      val sentinels = out.count(_.payload.isEmpty)
      val decoded = BinaryRef.frameStats(BinaryRef.sampleFrames(
          Seq(Binary.PayloadRow(3L, bad)).toDS(), stride = 1))
        .collect()
      assert(decoded.count(_.width == -1L) == sentinels)
    } // an unindexable container (reader throws on getNumImages) is the
      // documented no-rows case — same as no reader at all
  }

  test("imageHeader parses real PNG/JPEG/GIF headers from raw bytes") {
    import spark.implicits._
    def be32(v: Long) = Array((v >> 24).toByte, (v >> 16).toByte,
      (v >> 8).toByte, v.toByte)
    def be16(v: Int) = Array((v >> 8).toByte, v.toByte)
    // Minimal real headers, built byte-for-byte per the public specs.
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a,
        0x0a) ++ be32(13) ++ "IHDR".getBytes ++ be32(640) ++ be32(480) ++
      Array[Byte](8, 2, 0, 0, 0)
    val jpeg = Array[Byte](0xff.toByte, 0xd8.toByte) ++
      // APP0 segment (length 16) that the scanner must skip over
      (Array[Byte](0xff.toByte, 0xe0.toByte) ++ be16(16) ++
        new Array[Byte](14)) ++
      // SOF0: len 17, precision 8, height 1080, width 1920, 3 components
      (Array[Byte](0xff.toByte, 0xc0.toByte) ++ be16(17) ++
        Array[Byte](8) ++ be16(1080) ++ be16(1920) ++ new Array[Byte](10))
    val gif = "GIF89a".getBytes ++
      Array[Byte](0x20, 0x01, 0xf0.toByte, 0x00) // 288 x 240 little-endian
    assert(Binary.imageHeader(png) == (("png", 640L, 480L)))
    assert(Binary.imageHeader(jpeg) == (("jpeg", 1920L, 1080L)))
    assert(Binary.imageHeader(gif) == (("gif", 288L, 240L)))
    assert(Binary.imageHeader("not an image".getBytes) ==
      (("unknown", -1L, -1L)))
    // Dataset path: corpus text payloads all classify as unknown, typed map
    val ds = Seq((1L, "plain text")).toDF("doc_id", "text")
    val got = Binary.imageHeaders(
      ds.select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
        .as[Binary.PayloadRow]).collect()
    assert(got.toSeq == Seq(Binary.ImageHeader(1L, "unknown", -1L, -1L)))
  }

  test("wavHeader walks RIFF chunks: canonical, JUNK-prefixed, odd-pad") {
    def le32(v: Long) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte,
      (v >> 24).toByte)
    def le16(v: Int) = Array(v.toByte, (v >> 8).toByte)
    def fmt(ch: Int, rate: Int, bits: Int) =
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(ch) ++ le32(rate) ++
        le32(rate * ch * bits / 8) ++ le16(ch * bits / 8) ++ le16(bits)
    def riff(body: Array[Byte]) =
      "RIFF".getBytes ++ le32(4L + body.length) ++ "WAVE".getBytes ++ body

    // canonical: the synthesized blob round-trips against its parameters
    val canon = Binary.makeWav(docId = 5L, nSamples = 44100L)
    // doc 5: channels = 1 + 5%2 = 2, rate = 8000 * (1 + 5%3) = 24000
    assert(Binary.wavHeader(canon) ==
      (("wav", 2L, 24000L, 16L, 44100L, 44100L * 1000 / 24000)))

    // JUNK chunk (odd size 7, so a pad byte) BEFORE fmt — the walker must
    // skip it and honor the even-offset padding rule
    val junky = riff("JUNK".getBytes ++ le32(7) ++ new Array[Byte](8) ++
      fmt(1, 8000, 16) ++ "data".getBytes ++ le32(16000))
    assert(Binary.wavHeader(junky) ==
      (("wav", 1L, 8000L, 16L, 8000L, 1000L)))

    // data chunk before fmt (legal in the wild)
    val dataFirst = riff("data".getBytes ++ le32(3200) ++
      new Array[Byte](3200) ++ fmt(2, 16000, 16))
    assert(Binary.wavHeader(dataFirst) ==
      (("wav", 2L, 16000L, 16L, 800L, 50L)))

    // truncation and non-WAV must degrade, not throw
    assert(Binary.wavHeader(canon.take(10))._1 == "unknown")
    assert(Binary.wavHeader("RIFFxxxxAVI ".getBytes)._1 == "unknown")
    assert(Binary.wavHeader("plain text".getBytes)._1 == "unknown")
  }

  test("pcmStats: real PCM decode matches an independent reference loop, " +
      "clamps truncated data, rejects non-PCM16") {
    // exactness: recompute the closed-form waveform independently and
    // fold the same stats — a byte-level encode/decode bug on either
    // side (endianness, chunk offset, sign extension) diverges here
    for (id <- Seq(0L, 1L, 7L, 123L, 499L)) {
      val n = (64 + id % 193).toInt
      val samples = (0 until n)
        .map(i => (id * 7919 + i.toLong * 104729) % 65536 - 32768)
      val zc = samples.sliding(2).count(p => (p(0) < 0) != (p(1) < 0))
      val expected = (n.toLong, samples.map(math.abs).max, zc.toLong,
        samples.sum, samples.map(v => v * v).sum)
      assert(Binary.pcmStats(Binary.makeWavPcm(id, n)) == expected,
        s"doc $id")
      // the PCM blob still satisfies the m02 header contract (mono 16-bit)
      assert(Binary.wavHeader(Binary.makeWavPcm(id, n)) ==
        (("wav", 1L, 8000L * (1 + id % 3), 16L, n.toLong,
          n * 1000L / (8000L * (1 + id % 3)))))
    }
    // declared data size past the payload end: stats over the bytes
    // present (truncated-download tolerance), never an exception
    val full = Binary.makeWavPcm(7L, 100)
    val cut = full.take(44 + 40) // 20 of 100 samples survive
    val ref = (0 until 20)
      .map(i => (7L * 7919 + i.toLong * 104729) % 65536 - 32768)
    assert(Binary.pcmStats(cut) ==
      ((20L, ref.map(math.abs).max,
        ref.sliding(2).count(p => (p(0) < 0) != (p(1) < 0)).toLong,
        ref.sum, ref.map(v => v * v).sum)))
    // non-WAV and non-PCM16 payloads yield the sentinel row, not a throw
    assert(Binary.pcmStats("plain text".getBytes)._1 == -1L)
    val hdrOnly = Binary.makeWav(3L, 50L) // header-only: data bytes absent
    assert(Binary.pcmStats(hdrOnly)._1 == 0L) // parses, zero samples present
    val eightBit = full.clone()
    eightBit(34) = 8 // bits-per-sample 16 -> 8: not the PCM16 contract
    assert(Binary.pcmStats(eightBit)._1 == -1L)
  }

  test("aHash: invariant under monotone transforms, diverse across docs, " +
      "m08 pairs are exactly the planted re-encodes (sound + complete)") {
    import spark.implicits._
    // driver-side reference hash, independent of the Spark path
    def refHash(payload: Array[Byte]): Long = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      val (w, h) = (img.getWidth, img.getHeight)
      val sums = new Array[Long](64); val cnts = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val b = math.min(y * 8 / h, 7) * 8 + math.min(x * 8 / w, 7)
        val rgb = img.getRGB(x, y)
        sums(b) += ((rgb >> 16) & 0xff) * 299 +
          ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114
        cnts(b) += 1
      }
      val means = Array.tabulate(64)(i =>
        if (cnts(i) == 0) 0.0 else sums(i).toDouble / cnts(i))
      val g = means.sum / 64.0
      (0 until 64).foldLeft(0L)((s, i) =>
        if (means(i) > g) s | (1L << i) else s)
    }
    val ids = (0L until 100L).toSeq
    val got = Binary.aHashes(ids.toDS().map(id =>
        Binary.PayloadRow(id, Binary.makeNoisePng(id))))
      .collect().map(h => h.id -> h.sig).toMap
    for (id <- ids)
      assert(got(id) == refHash(Binary.makeNoisePng(id)), s"doc $id")
    // perceptual robustness: the monotone variant moves <= 3 bits...
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    for (id <- ids.take(20)) {
      val v = refHash(Binary.makeNoisePng(id, variant = 1))
      assert(ham(got(id), v) <= 3, s"variant of $id drifted ${ham(got(id), v)}")
      // ...while the bytes (a content hash's view) changed completely
      assert(!java.util.Arrays.equals(Binary.makeNoisePng(id),
        Binary.makeNoisePng(id, variant = 1)))
    }
    // diversity: distinct docs' noise hashes never come within the m08
    // pairing threshold of each other
    val hs = ids.map(got)
    val close = (for (i <- hs.indices; j <- i + 1 until hs.size
      if ham(hs(i), hs(j)) <= 3) yield (i, j))
    assert(close.isEmpty, s"noise collisions: $close")
    // the m08 gate end-to-end: exactly the planted pairs, each sound
    val pairs = SparkEntry.queries("m08_phash_neardup")(spark, TestSpark.sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val docIds = Tables(spark, TestSpark.sf, "documents")
      .select("doc_id").collect().map(_.getLong(0))
    val planted = docIds.filter(_ % 25 == 0).map(id => (id, id + 1000000L))
    assert(pairs.map(p => (p._1, p._2)).toSet == planted.toSet,
      "emitted pairs != planted re-encodes")
    for ((a, b, d) <- pairs) {
      assert(d <= 3)
      assert(d == ham(refHash(Binary.makeNoisePng(a)),
        refHash(Binary.makeNoisePng(a, variant = 1))),
        s"emitted dist of ($a,$b) wrong")
    }
  }

  test("videoSceneCuts: deltas match the closed-form frame colors, cuts " +
      "flag exactly the jump toggles, sentinels for non-AVI") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 5L, 11L, 42L)
    val out = Binary.videoSceneCuts(
        ids.toDS().map(id => Binary.PayloadRow(id, Binary.makeSceneAvi(id))),
        threshold = 64L)
      .collect().map(s => (s.doc_id, s.frame_idx) -> s).toMap
    def color(id: Long, f: Int): (Long, Long, Long) = {
      val j = if ((id + f) % 4 == 0) 1 else 0
      (20 + (11 * id) % 100 + 5 * (f % 8) + 100 * j,
        10 + (13 * id) % 100 + 3 * (f % 8) + 110 * j,
        5 + (17 * id) % 100 + 7 * (f % 8) + 90 * j)
    }
    for (id <- ids) {
      val np = (3 + id % 5) * (3 + id % 4)
      val nf = (4 + id % 3).toInt
      for (f <- 1 until nf) {
        val s = out((id, f.toLong))
        val (pr, pg, pb) = color(id, f - 1)
        val (cr, cg, cb) = color(id, f)
        assert(s.n_pixels == np)
        assert(s.d_r == np * math.abs(cr - pr), s"doc $id frame $f d_r")
        assert(s.d_g == np * math.abs(cg - pg))
        assert(s.d_b == np * math.abs(cb - pb))
        // a cut is exactly a jump toggle: the drift terms sum to 15 < 64
        val toggled = ((id + f) % 4 == 0) != ((id + f - 1) % 4 == 0)
        assert(s.is_cut == (if (toggled) 1 else 0),
          s"doc $id frame $f cut flag")
      }
      assert(!out.contains((id, 0L)), "frame 0 has no predecessor")
    }
    val bad = Binary.videoSceneCuts(
        Seq(Binary.PayloadRow(9L, "not a video".getBytes("UTF-8"))).toDS(),
        threshold = 64L).collect()
    assert(bad.toSeq == Seq(Binary.SceneDelta(9L, -1L, -1L, -1L, -1L, -1L,
      -1)))
  }

  test("every Dataset-level format op equals its scalar parser mapped on " +
      "the driver, row for row and in order, at 1 and 4 partitions") {
    import spark.implicits._
    import BinaryRef._
    val makers: Seq[Long => Array[Byte]] = Seq(
      id => Binary.makeWav(id, 100L + id), id => Binary.makeWavPcm(id, 50),
      Binary.makeImage, Binary.makeMp4, Binary.makeMjpegMp4, Binary.makeMkv,
      Binary.makeMjpegMkv, Binary.makeTiff, Binary.makeFlac, Binary.makeMp3,
      Binary.makeZip, Binary.makeWebp, Binary.makeRealPng,
      Binary.makeRealGif, id => Binary.makeNoisePng(id),
      id => Binary.makeNoisePng(id, variant = 1), Binary.makeRealAvi,
      Binary.makeSceneAvi, Binary.makeH264, Binary.makeIvf, Binary.makeOgg)
    val made = for (m <- makers; id <- Seq(0L, 1L, 2L, 5L)) yield m(id)
    val rnd = new scala.util.Random(7)
    val blobs = made ++ made.map(p => p.take(p.length * 2 / 3)) ++
      Seq(Array.empty[Byte]) ++
      Seq(1, 16, 300).map { n =>
        val b = new Array[Byte](n); rnd.nextBytes(b); b
      }
    val payloads = blobs.zipWithIndex.map { case (p, i) =>
      Binary.PayloadRow(i.toLong, p) }
    def rows(p: Binary.PayloadRow, t: Product) =
      Seq(p.doc_id +: t.productIterator.toSeq)
    type Op = (String, Dataset[Binary.PayloadRow] => Dataset[_ <: Product],
      Binary.PayloadRow => Seq[Seq[Any]])
    // a header/meta op's row is its doc_id followed by the parser's tuple
    def perRow(name: String,
               op: Dataset[Binary.PayloadRow] => Dataset[_ <: Product],
               parse: Array[Byte] => Product): Op =
      (name, op, p => rows(p, parse(p.payload)))
    val parsers = Seq[Op](
      perRow("audioHeaders", Binary.audioHeaders, Binary.wavHeader),
      perRow("imageHeaders", Binary.imageHeaders, Binary.imageHeader),
      perRow("videoHeaders", Binary.videoHeaders, Binary.mp4Header),
      perRow("mkvHeaders", Binary.mkvHeaders, Binary.mkvHeader),
      perRow("tiffHeaders", Binary.tiffHeaders, Binary.tiffHeader),
      perRow("flacHeaders", Binary.flacHeaders, Binary.flacHeader),
      perRow("mp3Headers", Binary.mp3Headers, Binary.mp3Header),
      perRow("zipListings", Binary.zipListings, Binary.zipListing),
      perRow("webpHeaders", Binary.webpHeaders, Binary.webpHeader),
      perRow("h264Metas", Binary.h264Metas, Binary.h264Meta),
      perRow("ivfMetas", Binary.ivfMetas, Binary.ivfMeta),
      perRow("oggMetas", Binary.oggMetas, Binary.oggMeta),
      perRow("audioStatsOf", Binary.audioStatsOf, Binary.pcmStats),
      perRow("pixelStats", Binary.pixelStats, p => Option(decode(p))
        .map { img => val (w, h, r, g, b) = sums(img); (w, h, w * h, r, g, b) }
        .getOrElse((-1L, -1L, -1L, -1L, -1L, -1L))),
      ("colorHistograms", Binary.colorHistograms, p =>
        Option(decode(p.payload)).map(histogram)
          .getOrElse(Seq(Seq(-1L, -1L, -1L, -1L))).map(p.doc_id +: _)),
      ("aHashes", Binary.aHashes, p =>
        Option(decode(p.payload)).map(img => Seq(Seq(p.doc_id, aHash(img))))
          .getOrElse(Nil)),
      ("videoSceneCuts", Binary.videoSceneCuts(_, 64L), p =>
        sceneCuts(p, 64L).map(_.productIterator.toSeq))) ++
      Seq(1, 2).flatMap(stride => Seq[Op](
        (s"mp4FrameStats/$stride", Binary.mp4FrameStats(_, stride), p =>
          containerStats(p, stride, notMp4, Binary.mp4JpegFrames)),
        (s"mkvFrameStats/$stride", Binary.mkvFrameStats(_, stride), p =>
          containerStats(p, stride, notMkv, Binary.mkvJpegFrames)),
        (s"videoFrameStatsFused/$stride",
          Binary.videoFrameStatsFused(_, stride),
          p => containerStats(p, stride, notAvi, Binary.aviFrames))))
    for (parts <- Seq(1, 4)) {
      val ds = spark.sparkContext.parallelize(payloads, parts).toDS()
      for ((name, op, scalar) <- parsers) {
        val got = op(ds).collect().toSeq.map(_.productIterator.toSeq)
        val want = payloads.flatMap(scalar)
        assert(got == want, s"$name at $parts partition(s)")
      }
    }
  }

  test("every scalar parser's outputs over maker blobs, all their prefixes " +
      "and one-byte mutations, and seeded random blobs match the pinned " +
      "digests; every maker's bytes for ids 0-49 match theirs") {
    import BinaryRef._
    val got = parserDigests(pinCorpus)
    val makers = makerDigest(0L until 50L)
    val report = (got.toSeq :+ ("makers" -> makers))
      .map { case (n, d) => s"""    "$n" -> "$d",""" }.mkString("\n")
    assert(got.keySet == ParserPins.keySet, report)
    val off = ParserPins.keys.filter(n => got(n) != ParserPins(n)).toSeq
    assert(off.isEmpty, s"${off.mkString(", ")} moved:\n$report")
    assert(makers == MakerPin, s"maker bytes moved:\n$report")
  }

  test("codec prologue leaves ImageIO on memory-cached streams — the " +
      "default file cache round-trips a temp file per decode/encode " +
      "(the r14 3-4x decode-gate regression class)") {
    // any decode path runs the prologue in-JVM under local mode
    import spark.implicits._
    Binary.pixelStats(Seq(Binary.PayloadRow(1L, Binary.makeRealPng(1L)))
      .toDS()).collect()
    assert(!javax.imageio.ImageIO.getUseCache,
      "ImageIO.setUseCache(false) missing from Binary.codecPrologue")
  }
}

/** Driver-side references for BinarySpec: plain `ImageIO.read` decode
  * and `getRGB` channel folds, with none of Binary's per-partition
  * reader cache or raster fast path, so an op that agrees with them is
  * pinned to the decoded pixels rather than to its own helpers. */
object BinaryRef {
  import java.awt.image.BufferedImage

  final case class Frame(doc_id: Long, frame_idx: Long,
                         payload: Array[Byte])

  /** Frame sampling for any multi-frame format `javax.imageio` can read:
    * every `stride`-th image of the payload's sequence, re-encoded as
    * lossless PNG (through INT_RGB, so an indexed or gray frame keeps
    * its sRGB values). An unreadable container (no reader claims it, or
    * its index is broken) emits ONE frame_idx = -1 row with an empty
    * payload; a frame that fails to decode emits an empty payload at its
    * frame_idx. The reference that frameStatsFused must equal. */
  def sampleFrames(ds: Dataset[Binary.PayloadRow], stride: Int)
      : Dataset[Frame] = {
    import ds.sparkSession.implicits._
    require(stride > 0, s"stride must be positive: $stride")
    ds.mapPartitions { rows =>
      System.setProperty("java.awt.headless", "true")
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) {
          iis.close()
          Iterator.single(Frame(r.doc_id, -1L, Array.empty[Byte]))
        } else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            (0 until n by stride).map { i =>
              val png =
                try {
                  val src = reader.read(i)
                  val rgb = new BufferedImage(src.getWidth, src.getHeight,
                    BufferedImage.TYPE_INT_RGB)
                  val g2 = rgb.createGraphics()
                  g2.drawImage(src, 0, 0, null)
                  g2.dispose()
                  val bos = new java.io.ByteArrayOutputStream()
                  javax.imageio.ImageIO.write(rgb, "png", bos)
                  bos.toByteArray
                } catch { case _: Exception => Array.empty[Byte] }
              Frame(r.doc_id, i.toLong, png)
            }.iterator
          } catch {
            case _: Exception =>
              Iterator.single(Frame(r.doc_id, -1L, Array.empty[Byte]))
          } finally { reader.dispose(); iis.close() }
        }
      }
    }
  }

  /** [[sampleFrames]] for RIFF/AVI: every `stride`-th frame payload of
    * [[Binary.aviFrames]], verbatim; a non-AVI payload → one frame_idx
    * = -1 row with an empty payload. */
  def sampleVideoFrames(ds: Dataset[Binary.PayloadRow], stride: Int)
      : Dataset[Frame] = {
    import ds.sparkSession.implicits._
    require(stride > 0, s"stride must be positive: $stride")
    ds.flatMap { r =>
      if (notAvi(r.payload))
        Iterator.single(Frame(r.doc_id, -1L, Array.empty[Byte]))
      else {
        val frames = demux(r.payload, Binary.aviFrames)
        Iterator.range(0, frames.length, stride)
          .map(i => Frame(r.doc_id, i.toLong, frames(i)))
      }
    }
  }

  /** Per-frame pixel stats keyed by (doc, frame); undecodable frame
    * payloads get -1 stats. */
  def frameStats(ds: Dataset[Frame]): Dataset[Binary.FrameStats] = {
    import ds.sparkSession.implicits._
    ds.map { r =>
      val img = decode(r.payload)
      if (img == null)
        Binary.FrameStats(r.doc_id, r.frame_idx, -1L, -1L, -1L, -1L, -1L, -1L)
      else {
        val (w, h, sr, sg, sb) = sums(img)
        Binary.FrameStats(r.doc_id, r.frame_idx, w, h, w * h, sr, sg, sb)
      }
    }
  }

  def decode(p: Array[Byte]): BufferedImage =
    try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
    catch { case _: Exception => null }

  private def pixels(img: BufferedImage): Seq[Int] =
    for (y <- 0 until img.getHeight; x <- 0 until img.getWidth)
      yield img.getRGB(x, y)

  def sums(img: BufferedImage): (Long, Long, Long, Long, Long) = {
    val px = pixels(img)
    (img.getWidth.toLong, img.getHeight.toLong,
      px.map(p => ((p >> 16) & 0xff).toLong).sum,
      px.map(p => ((p >> 8) & 0xff).toLong).sum,
      px.map(p => (p & 0xff).toLong).sum)
  }

  def histogram(img: BufferedImage): Seq[Seq[Any]] = {
    val px = pixels(img)
    def bins(shift: Int) = px.groupBy(p => ((p >> shift) & 0xff) / 16)
      .map { case (b, v) => b -> v.size.toLong }.withDefaultValue(0L)
    val (r, g, b) = (bins(16), bins(8), bins(0))
    (0 until 16).map(i => Seq(i.toLong, r(i), g(i), b(i)))
  }

  def aHash(img: BufferedImage): Long = {
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Long](64); val cnts = new Array[Long](64)
    for (y <- 0 until h; x <- 0 until w) {
      val b = math.min(y * 8 / h, 7) * 8 + math.min(x * 8 / w, 7)
      val rgb = img.getRGB(x, y)
      sums(b) += ((rgb >> 16) & 0xff) * 299 +
        ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114
      cnts(b) += 1
    }
    val means = Array.tabulate(64)(i =>
      if (cnts(i) == 0) 0.0 else sums(i).toDouble / cnts(i))
    val g = means.sum / 64.0
    (0 until 64).foldLeft(0L)((s, i) => if (means(i) > g) s | (1L << i) else s)
  }

  private def ascii(p: Array[Byte], from: Int) =
    new String(p.slice(from, from + 4), "US-ASCII")
  def notMp4(p: Array[Byte]): Boolean = p.length < 12 || ascii(p, 4) != "ftyp"
  def notMkv(p: Array[Byte]): Boolean =
    p.length < 4 ||
      !p.take(4).sameElements(Array(0x1a, 0x45, 0xdf, 0xa3).map(_.toByte))
  def notAvi(p: Array[Byte]): Boolean =
    p.length < 12 || ascii(p, 0) != "RIFF" || ascii(p, 8) != "AVI "

  private def demux(p: Array[Byte],
                    frames: Array[Byte] => IndexedSeq[Array[Byte]]) =
    try frames(p) catch { case _: Exception => IndexedSeq.empty[Array[Byte]] }

  /** Frame-stats rows of one container payload: one −1 row when `notIt`,
    * else every `stride`-th demuxed frame, −1 stats where it won't decode. */
  def containerStats(r: Binary.PayloadRow, stride: Int,
                     notIt: Array[Byte] => Boolean,
                     frames: Array[Byte] => IndexedSeq[Array[Byte]])
      : Seq[Seq[Any]] =
    if (notIt(r.payload)) Seq(Seq(r.doc_id, -1L, -1L, -1L, -1L, -1L, -1L, -1L))
    else {
      val fs = demux(r.payload, frames)
      (0 until fs.length by stride).map { i =>
        Option(decode(fs(i))) match {
          case None => Seq(r.doc_id, i.toLong, -1L, -1L, -1L, -1L, -1L, -1L)
          case Some(img) =>
            val (w, h, sr, sg, sb) = sums(img)
            Seq(r.doc_id, i.toLong, w, h, w * h, sr, sg, sb)
        }
      }
    }

  /** The 21 fixture makers, each a function of the doc id. */
  val namedMakers: Seq[(String, Long => Array[Byte])] = Seq(
    "makeWav" -> (id => Binary.makeWav(id, 100L + id)),
    "makeWavPcm" -> (id => Binary.makeWavPcm(id, 50)),
    "makeImage" -> Binary.makeImage, "makeMp4" -> Binary.makeMp4,
    "makeMjpegMp4" -> Binary.makeMjpegMp4, "makeMkv" -> Binary.makeMkv,
    "makeMjpegMkv" -> Binary.makeMjpegMkv, "makeTiff" -> Binary.makeTiff,
    "makeFlac" -> Binary.makeFlac, "makeMp3" -> Binary.makeMp3,
    "makeZip" -> Binary.makeZip, "makeWebp" -> Binary.makeWebp,
    "makeRealPng" -> Binary.makeRealPng, "makeRealGif" -> Binary.makeRealGif,
    "makeNoisePng" -> (id => Binary.makeNoisePng(id)),
    "makeNoisePng/1" -> (id => Binary.makeNoisePng(id, variant = 1)),
    "makeRealAvi" -> Binary.makeRealAvi, "makeSceneAvi" -> Binary.makeSceneAvi,
    "makeH264" -> Binary.makeH264, "makeIvf" -> Binary.makeIvf,
    "makeOgg" -> Binary.makeOgg)

  /** The 16 scalar parsers, each output rendered as text: a tuple by its
    * `toString`, a demuxer's frames by count and bytes, a throw by its
    * exception class. */
  val namedParsers: Seq[(String, Array[Byte] => Any)] = {
    def frames(f: Array[Byte] => IndexedSeq[Array[Byte]]) =
      (p: Array[Byte]) => f(p).map(java.util.HexFormat.of().formatHex(_))
    Seq("imageHeader" -> Binary.imageHeader, "wavHeader" -> Binary.wavHeader,
      "pcmStats" -> Binary.pcmStats, "mp4Header" -> Binary.mp4Header,
      "mp4JpegFrames" -> frames(Binary.mp4JpegFrames),
      "mkvHeader" -> Binary.mkvHeader,
      "mkvJpegFrames" -> frames(Binary.mkvJpegFrames),
      "tiffHeader" -> Binary.tiffHeader, "flacHeader" -> Binary.flacHeader,
      "mp3Header" -> Binary.mp3Header, "zipListing" -> Binary.zipListing,
      "webpHeader" -> Binary.webpHeader,
      "aviFrames" -> frames(Binary.aviFrames), "h264Meta" -> Binary.h264Meta,
      "ivfMeta" -> Binary.ivfMeta, "oggMeta" -> Binary.oggMeta)
  }

  /** The parser pin's inputs, in a fixed order: each maker's bytes for
    * ids 0, 1, 2 and 5, then every prefix of them and every one-byte
    * mutation (+1 and +0x80 at each offset); then seeded random blobs,
    * bare and behind each format's magic. */
  def pinCorpus: Iterator[Array[Byte]] = {
    val made = for ((_, m) <- namedMakers; id <- Seq(0L, 1L, 2L, 5L))
      yield m(id)
    val derived = made.iterator.flatMap { p =>
      Iterator.range(0, p.length + 1).map(p.take) ++
        (for (i <- Iterator.range(0, p.length); d <- Iterator(1, 0x80))
          yield { val m = p.clone(); m(i) = (m(i) + d).toByte; m })
    }
    val magics = Seq("", "RIFF\u0000\u0000\u0000\u0000WAVE",
      "RIFF\u0000\u0000\u0000\u0000WEBP", "RIFF\u0000\u0000\u0000\u0000AVI ",
      "\u0000\u0000\u0000\u0018ftyp", "\u001aE\u00df\u00a3", "II*\u0000",
      "MM\u0000*", "fLaC", "ID3", "\u00ff\u00fb", "OggS", "DKIF",
      "\u0000\u0000\u0000\u0001", "\u0089PNG\r\n\u001a\n", "\u00ff\u00d8",
      "GIF8").map(_.getBytes("ISO-8859-1"))
    val rnd = new scala.util.Random(11)
    val random = for (m <- magics.iterator; _ <- Iterator.range(0, 200))
      yield m ++ Array.fill(rnd.nextInt(160))(rnd.nextInt(256).toByte)
    made.iterator ++ derived ++ random
  }

  private def sha256(update: java.security.MessageDigest => Unit): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    update(md)
    java.util.HexFormat.of().formatHex(md.digest())
  }

  /** SHA-256 of each parser's rendered outputs over `blobs`, one line per
    * blob. */
  def parserDigests(blobs: Iterator[Array[Byte]]): Map[String, String] = {
    val mds = namedParsers.map(_ =>
      java.security.MessageDigest.getInstance("SHA-256"))
    for (p <- blobs; ((_, parse), md) <- namedParsers.zip(mds)) {
      val out = try parse(p).toString
        catch { case e: Exception => "!" + e.getClass.getName }
      md.update((out + "\n").getBytes("UTF-8"))
    }
    namedParsers.map(_._1).zip(mds.map(md =>
      java.util.HexFormat.of().formatHex(md.digest()))).toMap
  }

  /** SHA-256 of every maker's bytes for `ids`, each length-prefixed. */
  def makerDigest(ids: Seq[Long]): String = sha256 { md =>
    for ((_, m) <- namedMakers; id <- ids) {
      val b = m(id)
      md.update(s"${b.length}:".getBytes("UTF-8")); md.update(b)
    }
  }

  /** [[parserDigests]] over [[pinCorpus]] and [[makerDigest]] over ids
    * 0-49, recorded before the parsers moved onto the shared byte
    * reader and walkers; the JPEG, PNG and GIF makers' bytes are those
    * of the JDK 17 `javax.imageio` encoders. */
  val ParserPins: Map[String, String] = Map(
    "imageHeader" -> "45cfbe53bd3d9405a3bc751b50b41f68cd3a9ddcd98269d3546c80a217268c22",
    "wavHeader" -> "5d58b78e74bc457d645825edcd217aca0a5b931959883c9ff89ebe7280cb5030",
    "pcmStats" -> "9a73785870b2ed5ff8d88afcf90bdad16cfffc16f3d8c2f0857159e466c5e839",
    "mp4Header" -> "b5a8a21f8f67303eba826bd1d25f3a4d6f20e60dccbf4f3a101d0b0a828ee12e",
    "mp4JpegFrames" -> "5770d87d1f41d9ba0689a541559fec7c5d8a48b7a5c53ffbd25e8e4239cca75f",
    "mkvHeader" -> "df521ab837c870038f34caf96b594ae2cb79b2b4498b4e2ae1e90df90e4ce112",
    "mkvJpegFrames" -> "2370369aa21a28d384bfc74040d2a005bb791258d6e8d39bc55e036561686529",
    "tiffHeader" -> "3f5a4abeca51cd829056941d25a96b27ff13b71336d79a82322a342400331fe3",
    "flacHeader" -> "836a1c80e783b1f3adaa413b6230b17f5560c72224a86a8bd9e1ad684993aabe",
    "mp3Header" -> "973af01f10ae984ff09e4baad50735f5f56ee1b632a43b9f092bceb9104ce0c9",
    "zipListing" -> "13aa2ba132884778c3439773baa92589e15157379bd99c7cc0361527915cc5af",
    "webpHeader" -> "ae72c46981995596a7ba17178f292100a6570118f954762bee8b6037a3afa6fb",
    "aviFrames" -> "5a3ab553a89746aba95a72ab9d9b777dacc7cb52002af61bc9619c2d6a52eb30",
    "h264Meta" -> "a6cdeedfbe2d54fcb7b692cdb269414d4e4207b6d966cff10032bc49dfbf5f25",
    "ivfMeta" -> "d00723b593c8a52aa8e952bb64bed08e2b6b6f4521a07436ea5f9ca3faa7406a",
    "oggMeta" -> "be7247727250810b6804b97868ebee18cce3f65507f7dee2d9918a4d45a47bc4")
  val MakerPin =
    "5df72be3efacb0ef9d3501e3cb122bd4e2e42f05c38b378efd7398a7ae11f3fb"

  def sceneCuts(r: Binary.PayloadRow, threshold: Long): Seq[Binary.SceneDelta] =
    if (notAvi(r.payload))
      Seq(Binary.SceneDelta(r.doc_id, -1L, -1L, -1L, -1L, -1L, -1))
    else {
      val s = demux(r.payload, Binary.aviFrames)
        .map(f => Option(decode(f)).map(sums))
      (1 until s.length).map { f =>
        (s(f - 1), s(f)) match {
          case (Some((w, h, pr, pg, pb)), Some((_, _, cr, cg, cb))) =>
            val (dr, dg, db) =
              (math.abs(cr - pr), math.abs(cg - pg), math.abs(cb - pb))
            Binary.SceneDelta(r.doc_id, f.toLong, w * h, dr, dg, db,
              if (dr + dg + db > threshold * w * h) 1 else 0)
          case _ =>
            Binary.SceneDelta(r.doc_id, f.toLong, -1L, -1L, -1L, -1L, -1)
        }
      }
    }
}
