package graft.multimodal

import scala.reflect.runtime.universe.TypeTag
import org.apache.spark.sql.{Dataset, Encoders}

/** Multimodal column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed in partition-local
  * batches.
  *
  * Header metadata (image, audio, video, archive and stream formats)
  * is parsed for REAL from payload bytes — pure arithmetic, no codecs —
  * and each parser has a typed Dataset form (`perRow`). Every parser
  * reads through one bounds-checked byte reader (`uint` and its
  * `u8`…`u64be`/`tag` widths: Long offsets, −1 out of bounds), every
  * container walk is one of three walkers — [[Binary.riffChunks]]
  * (WAV, WebP, AVI), [[Binary.isoBoxes]] (MP4) and
  * [[Binary.ebmlElements]] (Matroska/WebM) — and every fixture maker
  * writes through one `Writer`. Pixel decode ([[Binary.pixelStats]])
  * and multi-frame decode ([[Binary.frameStatsFused]] for GIF
  * sequences; AVI, Motion-JPEG MP4 and Matroska through the pure-byte
  * demuxers) are REAL too, via the pure-JVM `javax.imageio` readers
  * (PNG/GIF/BMP/JPEG). Frames of codecs with no JVM reader
  * (H.264/VP9-class bytes) are not decoded; their streams get
  * structure walks ([[Binary.h264Meta]], [[Binary.ivfMeta]]).
  * Every decode runs at the codec boundary (`decoding`): `mapPartitions`
  * amortizes codec initialization once per partition, the Scala analog
  * of `mapInPandas` batch processing.
  */
object Binary {

  /** Executor-side codec setup, run once per partition at every decode
    * boundary: headless AWT, and `ImageIO.setUseCache(false)` — the
    * default ImageInputStream is FILE-cache-backed, i.e. every
    * `ImageIO.read/write` round-trips a temp file on disk; in-memory
    * payloads want the memory-cached stream (measured ~25% off the
    * decode-bound gates, dominant for small frames). Idempotent and
    * cheap, so callers need no once-per-JVM guard. */
  private def codecPrologue(): Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** Per-partition image decoder. `ImageIO.read` resolves a reader from
    * the service registry for EVERY call (iterating providers and magic-
    * probing the stream) and allocates a fresh `ImageReader` + registry-
    * routed `ImageInputStream` each time — allocation/registry-bound when
    * a video gate decodes thousands of small frames per payload. This
    * holds ONE reader per (partition, format), sniffed from the payload
    * magic, wraps the bytes in a directly-constructed memory-cached
    * stream, and only falls back to the registry probe for magics it
    * doesn't know. Decode semantics are identical to `ImageIO.read`
    * (same `setInput(iis, true, true)` + `read(0)` path). Not
    * thread-safe — one instance per partition iterator, which is exactly
    * the mapPartitions discipline. */
  private final class FrameDecoder {
    private val cache =
      new java.util.HashMap[String, javax.imageio.ImageReader]()

    private def sniff(p: Array[Byte]): String =
      if (p.length >= 8 && (p(0) & 0xff) == 0x89 && p(1) == 'P' &&
          p(2) == 'N' && p(3) == 'G') "png"
      else if (p.length >= 2 && (p(0) & 0xff) == 0xff &&
               (p(1) & 0xff) == 0xd8) "jpeg"
      else if (p.length >= 4 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F')
        "gif"
      else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
      else ""

    /** Decode or null — the sentinel contract of every call site. */
    def decode(p: Array[Byte]): java.awt.image.BufferedImage = {
      val fmt = sniff(p)
      if (fmt.isEmpty)
        try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
        catch { case _: Exception => null }
      else {
        var reader = cache.get(fmt)
        if (reader == null) {
          val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
          if (!it.hasNext)
            return try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(p))
            catch { case _: Exception => null }
          reader = it.next()
          cache.put(fmt, reader)
        }
        val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
          new java.io.ByteArrayInputStream(p))
        try {
          reader.setInput(iis, true, true)
          reader.read(0)
        } catch {
          case _: Exception =>
            // A failed decode can leave reader state dirty — drop it so
            // the next frame starts from a fresh instance.
            cache.remove(fmt)
            reader.dispose()
            null
        } finally {
          try iis.close() catch { case _: Exception => () }
        }
      }
    }
  }

  final case class PayloadRow(doc_id: Long, payload: Array[Byte])

  /** The shape of every header/meta parser's Dataset form: a typed
    * row-local map, Tungsten encoders, no per-row setup, no shuffle. */
  private def perRow[T <: Product : TypeTag](ds: Dataset[PayloadRow])(
      f: PayloadRow => T): Dataset[T] =
    ds.map(f)(Encoders.product[T])

  /** The codec boundary's Dataset form: one [[codecPrologue]] and one
    * [[FrameDecoder]] per partition, rows streamed through `f` — any
    * model/codec initialization amortized per PARTITION, not per row. */
  private def decoding[T <: Product : TypeTag](ds: Dataset[PayloadRow])(
      f: (FrameDecoder, Iterator[PayloadRow]) => Iterator[T]): Dataset[T] =
    ds.mapPartitions { rows =>
      codecPrologue()
      f(new FrameDecoder, rows)
    }(Encoders.product[T])

  // ---- The byte reader, the byte writer and the three chunk walkers ----

  /** The byte reader: the `n`-byte unsigned integer at offset `i` of `p`,
    * little- or big-endian (past 8 bytes, its low 64 bits), or −1 when
    * any of its bytes lies outside `p` — the one out-of-bounds rule of
    * every read below, so no read can index outside the array. Offsets
    * are Longs: a position derived from a hostile 32-bit size compares
    * and reads without overflowing. Allocates nothing. */
  private def uint(p: Array[Byte], i: Long, n: Long, le: Boolean): Long =
    if (i < 0 || n < 0 || i + n > p.length) -1L
    else {
      var v = 0L
      var k = 0L
      while (k < n) {
        v = (v << 8) | (p((if (le) i + n - 1 - k else i + k).toInt) & 0xffL)
        k += 1
      }
      v
    }
  private def u8(p: Array[Byte], i: Long): Long = uint(p, i, 1, le = false)
  private def u16le(p: Array[Byte], i: Long): Long = uint(p, i, 2, le = true)
  private def u16be(p: Array[Byte], i: Long): Long = uint(p, i, 2, le = false)
  private def u24le(p: Array[Byte], i: Long): Long = uint(p, i, 3, le = true)
  private def u24be(p: Array[Byte], i: Long): Long = uint(p, i, 3, le = false)
  private def u32le(p: Array[Byte], i: Long): Long = uint(p, i, 4, le = true)
  private def u32be(p: Array[Byte], i: Long): Long = uint(p, i, 4, le = false)
  private def u64le(p: Array[Byte], i: Long): Long = uint(p, i, 8, le = true)
  private def u64be(p: Array[Byte], i: Long): Long = uint(p, i, 8, le = false)

  /** The 4-byte tag at `i` as its big-endian Int — −1, which no ASCII tag
    * equals, out of bounds. Compare it with [[fourcc]]. */
  private def tag(p: Array[Byte], i: Long): Int = u32be(p, i).toInt

  /** A 4-character ASCII tag as [[tag]] reads it. */
  private def fourcc(s: String): Int =
    (s.charAt(0) << 24) | (s.charAt(1) << 16) | (s.charAt(2) << 8) | s.charAt(3)

  /** The bytes [from, to) of `p` clipped to the array, as ASCII text (a
    * non-ASCII byte decodes to U+FFFD) — for fields a parser returns. */
  private def ascii(p: Array[Byte], from: Long, to: Long): String = {
    val a = math.min(math.max(from, 0L), p.length.toLong).toInt
    new String(p, a, math.max(math.min(to, p.length.toLong).toInt - a, 0),
      "US-ASCII")
  }

  /** The byte writer of every fixture maker: unsigned integers of any
    * width in either byte order, ASCII text, raw and zero bytes. */
  private final class Writer {
    private val out = new java.io.ByteArrayOutputStream()
    def le(v: Long, n: Int): Writer = {
      var k = 0
      while (k < n) { out.write((v >> (8 * k)).toInt); k += 1 }
      this
    }
    def be(v: Long, n: Int): Writer = {
      var k = n - 1
      while (k >= 0) { out.write((v >> (8 * k)).toInt); k -= 1 }
      this
    }
    def ascii(s: String): Writer = bytes(s.getBytes("US-ASCII"))
    def bytes(b: Array[Byte]*): Writer = {
      b.foreach(a => out.write(a, 0, a.length)); this
    }
    def zeros(n: Long): Writer = bytes(new Array[Byte](n.toInt))
    def size: Long = out.size.toLong
    def result: Array[Byte] = out.toByteArray
  }

  /** The bytes `f` writes. */
  private def written(f: Writer => Writer): Array[Byte] = f(new Writer).result

  /** The RIFF chunk walk over [from, to) (WAV, WebP, AVI): `f(tag, body,
    * size)` for each chunk whose 8-byte header lies inside, with its
    * DECLARED size — the body may run past `to` (a truncated download
    * still yields its header chunks); a caller that needs the whole body
    * checks `body + size` itself. `f` returns whether to go on. The walk
    * advances in Long space past the body and its pad byte (chunks pad to
    * even offsets), so a giant size ends the walk instead of wrapping an
    * Int back into the buffer. */
  private def riffChunks(p: Array[Byte], from: Long, to: Long)(
      f: (Int, Long, Long) => Boolean): Unit = {
    var i = from
    var go = true
    while (go && i + 8 <= to) {
      val sz = u32le(p, i + 4)
      go = f(tag(p, i), i + 8, sz)
      i += 8 + sz + (sz & 1)
    }
  }

  /** `p` opens a RIFF container of the given form ("WAVE", "WEBP", …). */
  private def riff(p: Array[Byte], form: String): Boolean =
    tag(p, 0) == fourcc("RIFF") && tag(p, 8) == fourcc(form)

  /** The ISO-BMFF box walk over [from, to) (MP4): `f(type, body, end)` for
    * each box — 32-bit size, or size 1 with a 64-bit `largesize` after the
    * type, or size 0 for "to the end of the parent". The first box smaller
    * than its header or ending past `to` stops the walk: all the
    * information the bytes offer. */
  private def isoBoxes(p: Array[Byte], from: Long, to: Long)(
      f: (Int, Long, Long) => Unit): Unit = {
    var i = from
    while (i + 8 <= to) {
      var sz = u32be(p, i)
      var hdr = 8
      if (sz == 1L && i + 16 <= to) { sz = u64be(p, i + 8); hdr = 16 }
      else if (sz == 0L) sz = to - i
      if (sz < hdr || i + sz > to) i = to
      else { f(tag(p, i + 4), i + hdr, i + sz); i += sz }
    }
  }

  /** An EBML VINT's length from its first byte: the leading-zero count
    * + 1; 0x00 (more than 8 bytes) and an out-of-bounds −1 give −1. */
  private def vintLen(b: Long): Int =
    if (b <= 0) -1 else java.lang.Long.numberOfLeadingZeros(b) - 55

  /** The EBML element walk over a master body [from, to) (Matroska/WebM,
    * RFC 8794): `f(id, body, end)` for each element — the id a 1-4 byte
    * VINT with its marker KEPT (the form the spec tables list ids in,
    * 0x1A45DFA3 etc.), the size a 1-8 byte VINT with its marker stripped,
    * all value bits set meaning unknown size, read to `to` (RFC 8794
    * §6.2, simplified to parent-bounded, which is exact for the last
    * child). Every header is bounded by the ENCLOSING master's `to`, not
    * the array: a child straddling its parent's end stops the walk there
    * and never parses itself out of the next sibling's bytes. */
  private def ebmlElements(p: Array[Byte], from: Long, to: Long)(
      f: (Long, Long, Long) => Unit): Unit = {
    var i = from
    while (i < to) {
      val idLen = vintLen(u8(p, i))
      val s = i + idLen
      val szLen = if (s < to) vintLen(u8(p, s)) else -1
      val body = s + szLen
      if (idLen < 1 || idLen > 4 || s > to || szLen < 1 || body > to) i = to
      else {
        val mask = (1L << (7 * szLen)) - 1
        val sz = uint(p, s, szLen, le = false) & mask
        if (sz != mask && sz > to - body) i = to
        else {
          val end = if (sz == mask) to else body + sz
          f(uint(p, i, idLen, le = false), body, end)
          i = end
        }
      }
    }
  }

  final case class ImageHeader(doc_id: Long, format: String, width: Long,
                               height: Long)

  /** REAL header-metadata parse — PNG IHDR, JPEG SOFn, and GIF logical-
    * screen dimensions read straight from payload bytes. Pure byte
    * arithmetic (no codecs), so THIS part of the multimodal path is not a
    * stub; only pixel decode remains environment-blocked. Unknown or
    * truncated payloads yield ("unknown", -1, -1) rather than failing the
    * batch. */
  def imageHeader(p: Array[Byte]): (String, Long, Long) =
    if (p.length >= 24 && u64be(p, 0) == 0x89504e470d0a1a0aL &&
        tag(p, 12) == fourcc("IHDR"))
      ("png", u32be(p, 16), u32be(p, 20))
    else if (p.length >= 4 && u16be(p, 0) == 0xffd8L) {
      // walk JPEG segments to the first frame header (SOF0..15, minus the
      // non-frame DHT/DAC/RST markers C4/C8/CC)
      var i = 2L
      var res: (String, Long, Long) = ("unknown", -1L, -1L)
      while (res._1 == "unknown" && i + 9 < p.length && u8(p, i) == 0xffL) {
        val marker = u8(p, i + 1)
        if (marker >= 0xc0 && marker <= 0xcf &&
            marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
          res = ("jpeg", u16be(p, i + 7), u16be(p, i + 5))
        else i += 2 + u16be(p, i + 2)
      }
      res
    } else if (p.length >= 10 && tag(p, 0) == fourcc("GIF8"))
      ("gif", u16le(p, 6), u16le(p, 8))
    else ("unknown", -1L, -1L)

  final case class AudioHeader(doc_id: Long, format: String, channels: Long,
                               sample_rate: Long, bits: Long,
                               n_samples: Long, duration_ms: Long)

  /** REAL RIFF/WAVE header parse: walks the chunk list (tolerating
    * non-fmt chunks like JUNK/LIST and odd-size pad bytes) to the `fmt `
    * and `data` chunks and derives (channels, sample rate, bits, sample
    * count, duration). Reads only declared sizes — a truncated payload
    * (header-only blob, the streaming-metadata-extract case) still
    * parses. Non-WAV or malformed bytes yield ("unknown", -1, …). */
  def wavHeader(p: Array[Byte]): (String, Long, Long, Long, Long, Long) = {
    val bad = ("unknown", -1L, -1L, -1L, -1L, -1L)
    val (fmt, data, dataLen) = wavChunks(p)
    val (channels, rate, bits) =
      if (fmt < 0) (-1L, -1L, -1L)
      else (u16le(p, fmt + 2), u32le(p, fmt + 4), u16le(p, fmt + 14))
    // under 8 bits a sample has no whole bytes to count the data in
    if (channels <= 0 || rate <= 0 || bits < 8 || data < 0) bad
    else {
      val nSamples = dataLen / (channels * (bits / 8))
      ("wav", channels, rate, bits, nSamples, nSamples * 1000L / rate)
    }
  }

  /** The RIFF/WAVE walk [[wavHeader]] and [[pcmStats]] share: the body
    * offsets of the `fmt ` chunk (one of at least 16 bytes, all present)
    * and of the `data` chunk, with the data chunk's declared size — −1
    * each where absent. Later chunks of a kind replace earlier ones until
    * both are found; the walk stops there. */
  private def wavChunks(p: Array[Byte]): (Long, Long, Long) = {
    var fmt, data, dataLen = -1L
    if (riff(p, "WAVE"))
      riffChunks(p, 12, p.length) { (t, b, sz) =>
        if (t == fourcc("fmt ") && sz >= 16 && b + 16 <= p.length) fmt = b
        else if (t == fourcc("data")) { data = b; dataLen = sz }
        fmt < 0 || data < 0
      }
    (fmt, data, dataLen)
  }

  /** The canonical 44-byte PCM WAV header: RIFF/WAVE, a 16-byte `fmt `
    * chunk, then the `data` chunk's header declaring `dataLen` bytes. */
  private def pcmWav(w: Writer, channels: Int, rate: Int,
                     dataLen: Int): Writer =
    w.ascii("RIFF").le(36 + dataLen, 4).ascii("WAVEfmt ").le(16, 4)
      .le(1, 2).le(channels, 2).le(rate, 4).le(rate * channels * 2, 4)
      .le(channels * 2, 2).le(16, 2).ascii("data").le(dataLen, 4)

  /** Deterministic WAV header-only blob (44-byte canonical layout, data
    * chunk size declared but not materialized): the synthesized stand-in
    * for real audio files, with per-doc parameters derived from the doc
    * id so the verify oracle can recompute them arithmetically. */
  def makeWav(docId: Long, nSamples: Long): Array[Byte] = {
    val channels = 1 + (docId % 2).toInt
    written(pcmWav(_, channels, (8000L * (1 + docId % 3)).toInt,
      (nSamples * channels * 2).toInt))
  }

  final case class AudioStats(doc_id: Long, n_samples: Long, peak: Long,
                              zcr: Long, sum_amp: Long, sum_sq: Long)

  /** Deterministic WAV with MATERIALIZED 16-bit mono PCM — the real-decode
    * sibling of the header-only [[makeWav]]: sample i is the closed form
    * ((docId·7919 + i·104729) mod 65536) − 32768, so the verify oracle
    * regenerates the exact waveform arithmetically and any byte-level
    * encode/decode bug (endianness, chunk offset, sign) breaks the hash. */
  def makeWavPcm(docId: Long, nSamples: Int): Array[Byte] = {
    val w = pcmWav(new Writer, 1, (8000L * (1 + docId % 3)).toInt,
      nSamples * 2)
    var i = 0
    while (i < nSamples) {
      w.le((docId * 7919 + i.toLong * 104729) % 65536 - 32768, 2)
      i += 1
    }
    w.result
  }

  /** REAL PCM decode + feature extraction — the audio analog of
    * [[pixelStats]]'s decode half: walks the RIFF chunk list
    * ([[riffChunks]], the walk [[wavHeader]] shares) to the `fmt `/`data`
    * chunks, then reads every interleaved 16-bit little-endian sample
    * and folds the speech/VAD-style summary features in ONE pass:
    * sample count, peak |amplitude|, zero-crossing count (sign = v ≥ 0,
    * the textbook ZCR), and the exact integer Σv / Σv² moments from
    * which DC offset and RMS energy derive. Integer sums (not floats) so
    * batch, stream, and the DuckDB oracle agree bit-for-bit; Σv² ≤ 2³⁰·n
    * never overflows a Long for any realistic clip. A declared data size
    * past the payload end is clamped to the bytes present
    * (truncated-download tolerance, same rule as the header walkers);
    * non-WAV / non-PCM16 payloads yield the (-1, …) sentinel row rather
    * than throwing — per-row totality is the codec-boundary contract at
    * scale. */
  def pcmStats(p: Array[Byte]): (Long, Long, Long, Long, Long) = {
    val (fmt, data, dataLen) = wavChunks(p)
    if (fmt < 0 || u16le(p, fmt) != 1 || u16le(p, fmt + 14) != 16 || data < 0)
      (-1L, -1L, -1L, -1L, -1L)
    else {
      val end = math.min(data + dataLen, p.length.toLong)
      var j = data
      var n, zc, peak, sumA, sumSq = 0L
      var prevNeg = false
      while (j + 1 < end) {
        val v = u16le(p, j).toShort.toLong
        val neg = v < 0
        if (n > 0 && neg != prevNeg) zc += 1
        prevNeg = neg
        n += 1
        if (math.abs(v) > peak) peak = math.abs(v)
        sumA += v
        sumSq += v * v
        j += 2
      }
      (n, peak, zc, sumA, sumSq)
    }
  }

  /** [[pcmStats]] over a payload Dataset — typed map, Tungsten encoders,
    * zero shuffle: the whole decode+reduce is row-local, so the operator
    * scales linearly with the corpus and parallelizes to any partition
    * count (the 100 TB posture for per-file feature extraction). */
  def audioStatsOf(ds: Dataset[PayloadRow]): Dataset[AudioStats] =
    perRow(ds) { r =>
      val (n, peak, zc, sumA, sumSq) = pcmStats(r.payload)
      AudioStats(r.doc_id, n, peak, zc, sumA, sumSq)
    }

  /** Deterministic image header blob — PNG, JPEG, or GIF rotating on the
    * doc id, built byte-for-byte per the public format specs (PNG
    * signature + IHDR chunk; JPEG SOI + APP0/JFIF + SOF0 + EOI; GIF89a
    * logical screen descriptor). The [[makeWav]] analog for images:
    * parameters derive from the doc id so the verify oracle recomputes
    * them arithmetically — format = doc_id % 3 (png/jpeg/gif),
    * width = 1 + doc_id % 640, height = 1 + doc_id·7 % 480 — while the
    * gate query must round-trip them through [[imageHeader]]'s real
    * parser (the JPEG path must WALK past APP0 to the frame header). */
  def makeImage(docId: Long): Array[Byte] = {
    val w = 1 + docId % 640
    val h = 1 + docId * 7 % 480
    written { o =>
      (docId % 3) match {
        case 0 =>
          o.be(0x89504e470d0a1a0aL, 8).be(13, 4).ascii("IHDR").be(w, 4)
            .be(h, 4).bytes(Array[Byte](8, 2, 0, 0, 0))
            .be(0, 4) // CRC; readers skip it
        case 1 =>
          o.be(0xffd8, 2)                                    // SOI
            .be(0xffe0, 2).be(16, 2).ascii("JFIF\u0000")     // APP0
            .bytes(Array[Byte](1, 1, 0, 0, 1, 0, 1, 0, 0))
            .be(0xffc0, 2).be(11, 2).be(8, 1).be(h, 2).be(w, 2) // SOF0
            .bytes(Array[Byte](1, 1, 0x11, 0))               // 1 component
            .be(0xffd9, 2)                                   // EOI
        case _ =>
          o.ascii("GIF89a").le(w, 2).le(h, 2)
            .bytes(Array[Byte](0xf0.toByte, 0, 0))
      }
    }
  }

  /** [[wavHeader]] over a payload Dataset — typed map, Tungsten encoders,
    * no per-row setup. */
  def audioHeaders(ds: Dataset[PayloadRow]): Dataset[AudioHeader] =
    perRow(ds) { r =>
      val (f, c, sr, bits, n, ms) = wavHeader(r.payload)
      AudioHeader(r.doc_id, f, c, sr, bits, n, ms)
    }

  /** [[imageHeader]] over a payload Dataset — typed map, stays in Tungsten
    * encoders, no per-row setup. */
  def imageHeaders(ds: Dataset[PayloadRow]): Dataset[ImageHeader] =
    perRow(ds) { r =>
      val (f, w, h) = imageHeader(r.payload)
      ImageHeader(r.doc_id, f, w, h)
    }

  final case class VideoHeader(doc_id: Long, brand: String,
                               timescale: Long, duration_ms: Long,
                               n_tracks: Long, width: Long, height: Long)

  /** REAL ISO-BMFF (MP4) box walk ([[isoBoxes]]) — pure byte
    * arithmetic, no codec: top-level boxes to `ftyp` (major brand) and
    * `moov`, then one level down to `mvhd` (timescale, duration →
    * duration_ms) and each `trak`'s `tkhd` (track count; width/height in
    * 16.16 fixed point from the FIRST laid-out track, the [[aviFrames]]
    * first-stream discipline). Handles v0 and v1 full boxes (64-bit
    * `largesize` is the walker's); reads only declared sizes, so a
    * header-only blob (metadata extraction without media data) parses.
    * Non-MP4 or malformed bytes yield ("unknown", -1, …). Motion-JPEG
    * frames decode via [[mp4JpegFrames]]; other codecs' frames have no
    * JVM decoder. */
  def mp4Header(p: Array[Byte])
      : (String, Long, Long, Long, Long, Long) = {
    val bad = ("unknown", -1L, -1L, -1L, -1L, -1L)
    if (tag(p, 4) != fourcc("ftyp")) return bad
    var brand: String = null
    var timescale, duration = -1L
    var nTracks = 0L
    var width, height = -1L
    isoBoxes(p, 0, p.length) { (t, b, e) =>
      if (t == fourcc("ftyp")) { if (e - b >= 4) brand = ascii(p, b, b + 4) }
      else if (t == fourcc("moov")) isoBoxes(p, b, e) { (mt, mb, me) =>
        // a body past its header guarantees the version byte exists — a
        // box whose size equals its header is empty, not a crash
        if (mt == fourcc("mvhd") && me > mb) {
          val v = u8(p, mb)
          if (v == 1 && mb + 32 + 8 <= me) {
            timescale = u32be(p, mb + 20)
            duration = u64be(p, mb + 24)
          } else if (v == 0 && mb + 20 + 4 <= me) {
            timescale = u32be(p, mb + 12)
            duration = u32be(p, mb + 16)
          }
        } else if (mt == fourcc("trak")) {
          nTracks += 1
          isoBoxes(p, mb, me) { (tt, tb, te) =>
            if (tt == fourcc("tkhd") && width < 0 && te > tb) {
              // v0: cre(4) mod(4) id(4) res(4) dur(4); v1: 8/8/4/4/8 —
              // then res(8) layer(2) alt(2) vol(2) res(2) matrix(36)
              val off = tb + 4 + (if (u8(p, tb) == 1) 32 else 20) + 52
              if (off + 8 <= te) {
                width = u32be(p, off) >> 16
                height = u32be(p, off + 4) >> 16
              }
            }
          }
        }
      }
    }
    if (brand == null || timescale <= 0 || duration < 0 || nTracks == 0)
      bad
    else (brand, timescale, duration * 1000L / timescale, nTracks,
      width, height)
  }

  /** Deterministic header-only MP4: spec-shaped ISO-BMFF boxes (ftyp +
    * moov{mvhd, trak{tkhd}×n}) with every field a closed form of the
    * doc id, so the oracle recomputes them arithmetically — the
    * [[makeWav]] analog for video containers. Odd ids use VERSION 1
    * mvhd/tkhd (64-bit times), even ids version 0, so both layouts are
    * exercised: brand = isom/mp42/avc1 by id%3, timescale =
    * 600·(1 + id%4), duration = (1 + id%30)·timescale + id%7 units,
    * 1 + id%3 tracks, first track (16.16 fixed) 320 + (id%5)·16 ×
    * 240 + (id%4)·16, later tracks 0×0 (audio-shaped). */
  def makeMp4(docId: Long): Array[Byte] = {
    val version = (docId % 2).toInt
    val brand = Seq("isom", "mp42", "avc1")((docId % 3).toInt)
    val timescale = 600L * (1 + docId % 4)
    val duration = (1 + docId % 30) * timescale + docId % 7
    val traks = (1 to (1 + docId % 3).toInt).map { t =>
      box("trak", tkhdBox(version, t, duration,
        if (t == 1) 320 + (docId % 5) * 16 else 0,
        if (t == 1) 240 + (docId % 4) * 16 else 0))
    }
    box("ftyp", written(_.ascii(brand).be(0, 4).ascii(brand))) ++
      box("moov", mvhdBox(version, timescale, duration) +: traks: _*)
  }

  /** An ISO-BMFF box: 32-bit big-endian size, type, then `body`. */
  private def box(typ: String, body: Array[Byte]*): Array[Byte] =
    written(_.be(8L + body.map(_.length).sum, 4).ascii(typ).bytes(body: _*))

  /** An ISO-BMFF full box: a [[box]] whose body opens with version 0 and
    * zero flags. */
  private def fullBox(typ: String, body: Array[Byte]*): Array[Byte] =
    box(typ, new Array[Byte](4) +: body: _*)

  /** An `mvhd` box; `version` 1 writes 64-bit times. */
  private def mvhdBox(version: Int, timescale: Long,
                      duration: Long): Array[Byte] = {
    val tw = 4 * (1 + version)
    box("mvhd", written(_.be(version, 1).be(0, 3).be(0, tw).be(0, tw)
      .be(timescale, 4).be(duration, tw).be(0x00010000L, 4).zeros(76)))
  }

  /** A `tkhd` box (flags 7: enabled, in movie and preview) declaring
    * `w` × `h` in 16.16 fixed point; `version` 1 writes 64-bit times. */
  private def tkhdBox(version: Int, trackId: Int, duration: Long, w: Long,
                      h: Long): Array[Byte] = {
    val tw = 4 * (1 + version)
    box("tkhd", written(_.be(version, 1).be(7, 3).be(0, tw).be(0, tw)
      .be(trackId, 4).be(0, 4).be(duration, tw).zeros(52).be(w << 16, 4)
      .be(h << 16, 4)))
  }

  /** Uniform RGB fixture color for Motion-JPEG frames, indexed by a
    * bounded palette id c ∈ [0, 20): every triple distinct, all under
    * 256 — the closed form the m13 oracle recomputes, mapped to DECODED
    * color via the exported [[jpegRoundTripColor]] dict (JPEG is lossy;
    * the shift is deterministic but not SQL-expressible). */
  def mjpegColor(c: Int): (Int, Int, Int) =
    (10 + 12 * c, 5 + 11 * c, 20 + 9 * c)

  private def uniformImage(w: Int, h: Int, r: Int, g: Int, b: Int)
      : java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rgb = (r << 16) | (g << 8) | b
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    img
  }

  /** JPEG-encode at a PINNED quality (0.9): the default write param's
    * quality is implementation-advisory, and the m13 oracle dict is only
    * valid if fixture encode and probe encode share the exact
    * quantization tables. */
  private def encodeJpeg(img: java.awt.image.BufferedImage): Array[Byte] = {
    codecPrologue()
    val w = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val param = w.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.9f)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      w.setOutput(ios)
      w.write(null, new javax.imageio.IIOImage(img, null, null), param)
      ios.flush()
    } finally { w.dispose(); ios.close() }
    bos.toByteArray
  }

  /** The decoded color of a uniform (r,g,b) image after a JPEG
    * round-trip at the [[encodeJpeg]] quality. A uniform image stays
    * uniform through JPEG (every block is DC-only → flat IDCT; chroma
    * subsampling of a constant is the constant; partial edge blocks pad
    * by edge replication) and the decoded value is INDEPENDENT of the
    * image dimensions — Mp4Spec pins both properties across the fixture
    * dim domain — so one 16×16 probe per palette entry is the whole
    * oracle dict. */
  def jpegRoundTripColor(r: Int, g: Int, b: Int): (Long, Long, Long) = {
    val img =
      try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(encodeJpeg(uniformImage(
          16, 16, r, g, b))))
      catch { case _: Exception => null }
    require(img != null, s"jpeg probe failed for ($r,$g,$b)")
    val p = img.getRGB(0, 0)
    ((p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
  }

  /** Deterministic Motion-JPEG-in-MP4: a REAL ISO-BMFF container whose
    * video track is a full sample table (stsd 'jpeg' + stts + stsc +
    * stsz + stco) over per-frame JPEG payloads in `mdat` — the fixture
    * that lets [[mp4JpegFrames]] retire MP4 frame decode the way
    * [[makeRealAvi]] retired AVI. 3 + id%4 frames of (11 + id%6) ×
    * (9 + id%5) uniform pixels (odd dims on purpose: partial JPEG edge
    * blocks), frame f's color = [[mjpegColor]]((id + 3f) % 20). Samples
    * are laid out TWO per chunk (last chunk 1 when the count is odd), so
    * the stsc run grammar is exercised non-degenerately, not as the
    * trivial one-sample-per-chunk table. */
  def makeMjpegMp4(docId: Long): Array[Byte] = {
    val w = (11 + docId % 6).toInt
    val h = (9 + docId % 5).toInt
    val nf = (3 + docId % 4).toInt
    val frames = (0 until nf).map { f =>
      val (r, g, b) = mjpegColor(((docId + 3 * f) % 20).toInt)
      encodeJpeg(uniformImage(w, h, r, g, b))
    }
    val ftyp = box("ftyp", written(_.ascii("isom").be(0, 4).ascii("isom")))
    // absolute file offsets: ftyp, then mdat header, then samples
    val sampleOffs = frames.scanLeft(ftyp.length + 8L)(_ + _.length).init
    val nChunks = (nf + 1) / 2
    val timescale = 600L
    val duration = nf * 150L
    val mdhd = fullBox("mdhd", written(_.be(0, 4).be(0, 4).be(timescale, 4)
      .be(duration, 4).be(0x55c4, 2).be(0, 2)))
    val hdlr = fullBox("hdlr", written(_.be(0, 4).ascii("vide").zeros(13)))
    // VisualSampleEntry 'jpeg': 6 reserved + dataref(1) + 16 predefined/
    // reserved + w + h + 72dpi×2 + reserved + framecount(1) + 32-byte
    // compressor name + depth 24 + predefined -1
    val sampleEntry = box("jpeg", written(_.zeros(6).be(1, 2).zeros(16)
      .be(w, 2).be(h, 2).be(0x00480000L, 4).be(0x00480000L, 4).be(0, 4)
      .be(1, 2).zeros(32).be(24, 2).be(0xffff, 2)))
    // two samples per chunk, the last chunk one when the count is odd
    val stscRuns = Seq((1L, 2L)) ++ (if (nf % 2 == 0) Nil else
      Seq((nChunks.toLong, 1L)))
    val stbl = box("stbl",
      fullBox("stsd", written(_.be(1, 4)), sampleEntry),
      fullBox("stts", written(_.be(1, 4).be(nf, 4).be(150, 4))),
      fullBox("stsc", written(o => stscRuns.foldLeft(o.be(stscRuns.size, 4)) {
        case (o, (first, n)) => o.be(first, 4).be(n, 4).be(1, 4) })),
      fullBox("stsz", written(o => frames.foldLeft(o.be(0, 4).be(nf, 4))(
        (o, fr) => o.be(fr.length, 4)))),
      fullBox("stco", written(o => (0 until nChunks).foldLeft(
        o.be(nChunks, 4))((o, ci) => o.be(sampleOffs(2 * ci), 4)))))
    val minf = box("minf", box("vmhd", written(_.be(1, 4).zeros(8))),
      box("dinf", fullBox("dref", written(_.be(1, 4)),
        box("url ", written(_.be(1, 4))))),
      stbl)
    val trak = box("trak", tkhdBox(0, 1, duration, w, h),
      box("mdia", mdhd, hdlr, minf))
    ftyp ++ box("mdat", frames: _*) ++
      box("moov", mvhdBox(0, timescale, duration), trak)
  }

  private def notMp4(p: Array[Byte]): Boolean =
    p.length < 12 || tag(p, 4) != fourcc("ftyp")

  /** REAL MP4 Motion-JPEG demux — the full ISO-BMFF sample-table walk,
    * pure byte arithmetic: moov → first trak whose stsd entry format is
    * a JPEG fourcc (jpeg/mjpa/MJPG) → stsz sample sizes (fixed or
    * per-sample), stco/co64 chunk offsets, stsc first_chunk/
    * samples_per_chunk runs expanded per spec (a run covers chunks up to
    * the next entry's first_chunk) — then slices each sample's JPEG
    * bytes straight out of the payload at chunk_offset + intra-chunk
    * cumulative size. Frames feed the bundled JPEG reader, as
    * [[aviFrames]]' do for AVI. Malformed tables stop the walk at the
    * last consistent sample
    * (all the information the bytes offer); no JPEG track → empty. */
  def mp4JpegFrames(p: Array[Byte]): IndexedSeq[Array[Byte]] = {
    if (notMp4(p)) return IndexedSeq.empty
    // (body, end) of the first box of type t in [from, to)
    def first(from: Long, to: Long, t: String): Option[(Long, Long)] = {
      var hit: Option[(Long, Long)] = None
      isoBoxes(p, from, to) { (bt, b, e) =>
        if (hit.isEmpty && bt == fourcc(t)) hit = Some((b, e))
      }
      hit
    }
    // the offsets of a table's entries: a u32 count at `at`, then
    // `width`-byte entries, cut at the box end
    def table(at: Long, end: Long, width: Int): IndexedSeq[Long] =
      Iterator.range(0, u32be(p, at).toInt)
        .map(k => at + 4 + width.toLong * k).takeWhile(_ + width <= end)
        .toIndexedSeq
    val jpegTags = Set("jpeg", "mjpa", "MJPG").map(fourcc)
    // the samples of a sample table [sb0, se0) whose stsd entry is JPEG
    // and whose stsz, stco/co64 and stsc tables are all non-empty
    def samples(sb0: Long, se0: Long): Option[IndexedSeq[Array[Byte]]] = {
      val isJpeg = first(sb0, se0, "stsd").exists { case (sb, se) =>
        // fullbox(4) + entry_count(4) + entry box: format at sb+12
        sb + 16 <= se && u32be(p, sb + 4) >= 1 && jpegTags(tag(p, sb + 12))
      }
      if (!isJpeg) return None
      val sizes: IndexedSeq[Long] = first(sb0, se0, "stsz") match {
        case Some((sb, se)) if sb + 12 <= se =>
          val fixed = u32be(p, sb + 4)
          val n = u32be(p, sb + 8).toInt
          // fixed-size branch: bound sample_count by what the payload
          // can physically hold — a hostile u32 count near 2^31 would
          // otherwise allocate gigabytes here before the offset walk
          // ever rejects it (the tables are already bounded by box size)
          if (fixed != 0)
            IndexedSeq.fill(
              math.min(math.max(n, 0).toLong, p.length / fixed).toInt)(fixed)
          else table(sb + 8, se, 4).map(u32be(p, _))
        case _ => IndexedSeq.empty
      }
      var chunkOffs: Option[IndexedSeq[Long]] = None
      isoBoxes(p, sb0, se0) { (t, b, e) =>
        if (chunkOffs.isEmpty && b + 8 <= e) {
          if (t == fourcc("stco")) chunkOffs = Some(table(b + 4, e, 4)
            .map(u32be(p, _)))
          else if (t == fourcc("co64")) chunkOffs = Some(table(b + 4, e, 8)
            .map(u64be(p, _)))
        }
      }
      val offs = chunkOffs.getOrElse(IndexedSeq.empty)
      val stscRuns: IndexedSeq[(Long, Long)] = first(sb0, se0, "stsc") match {
        case Some((sb, se)) if sb + 8 <= se =>
          table(sb + 4, se, 12).map(e => (u32be(p, e), u32be(p, e + 4)))
        case _ => IndexedSeq.empty
      }
      if (sizes.isEmpty || offs.isEmpty || stscRuns.isEmpty) return None
      // expand stsc runs → samples_per_chunk for each chunk
      val spc = offs.indices.map { ci =>
        val chunkNo = ci + 1L
        stscRuns.takeWhile(_._1 <= chunkNo).lastOption.map(_._2).getOrElse(0L)
      }
      val out = IndexedSeq.newBuilder[Array[Byte]]
      var si = 0
      var ci = 0
      var ok = true
      while (ok && ci < offs.length && si < sizes.length) {
        var off = offs(ci)
        var j = 0L
        while (ok && j < spc(ci) && si < sizes.length) {
          val sz = sizes(si)
          if (off < 0 || sz <= 0 || off + sz > p.length) ok = false
          else {
            out += java.util.Arrays.copyOfRange(p, off.toInt, (off + sz).toInt)
            off += sz; si += 1; j += 1
          }
        }
        ci += 1
      }
      Some(out.result())
    }
    var frames: Option[IndexedSeq[Array[Byte]]] = None
    for ((mb, me) <- first(0, p.length, "moov"))
      isoBoxes(p, mb, me) { (t, b, e) =>
        if (frames.isEmpty && t == fourcc("trak")) frames = for {
          mdia <- first(b, e, "mdia")
          minf <- first(mdia._1, mdia._2, "minf")
          stbl <- first(minf._1, minf._2, "stbl")
          fs <- samples(stbl._1, stbl._2)
        } yield fs
      }
    frames.getOrElse(IndexedSeq.empty)
  }

  /** [[mp4JpegFrames]] fused with frame decode — the MP4 sibling of
    * [[videoFrameStatsFused]]: sample-table demux → bundled-JPEG decode
    * ([[FrameDecoder]]: one reader per partition) → channel sums, all
    * row-local (a clip's frames live in its own payload; zero shuffles,
    * linear in frames — the property that holds at billions of clips).
    * Sentinels: non-MP4 payload → one frame_idx −1 row; no JPEG track /
    * broken sample table → no rows (the zero-frame rule of every
    * container); an undecodable sample → −1 stats at its frame_idx. */
  def mp4FrameStats(ds: Dataset[PayloadRow], stride: Int)
      : Dataset[FrameStats] =
    containerFrameStats(ds, stride, notMp4, mp4JpegFrames)

  /** [[mp4Header]] over a payload Dataset — typed map, Tungsten
    * encoders, no per-row setup ([[audioHeaders]]' video sibling). */
  def videoHeaders(ds: Dataset[PayloadRow]): Dataset[VideoHeader] =
    perRow(ds) { r =>
      val (brand, ts, ms, n, w, h) = mp4Header(r.payload)
      VideoHeader(r.doc_id, brand, ts, ms, n, w, h)
    }

  final case class MkvMeta(doc_id: Long, doc_type: String,
                           timescale_ns: Long, duration_ms: Long,
                           n_tracks: Long, width: Long, height: Long)

  /** REAL Matroska/WebM metadata — the pure-byte EBML element walk
    * ([[ebmlElements]]: VINT id with the marker kept, VINT size with the
    * marker stripped, all-value-bits-set size = unknown/streaming), no
    * codec: EBML header → DocType; Segment → Info (TimestampScale in ns
    * — spec default 1e6 when absent — and Duration, a 4- or 8-byte
    * float in timescale ticks → duration_ms) and Tracks (TrackEntry
    * count; pixel dims from the FIRST video-type track's Video child,
    * the [[mp4Header]] first-track discipline). Unknown-size masters
    * are read to the parent's limit (the live-stream Segment shape —
    * RFC 8794 §6.2, simplified to parent-bounded, which is exact for
    * the last child). Reads only declared extents; non-EBML or
    * malformed bytes yield ("unknown", -1, …). Motion-JPEG frames
    * decode via [[mkvJpegFrames]]; other codecs' frames have no JVM
    * decoder. */
  def mkvHeader(p: Array[Byte])
      : (String, Long, Long, Long, Long, Long) = {
    val bad = ("unknown", -1L, -1L, -1L, -1L, -1L)
    // an element's body as a big-endian unsigned integer
    def num(s: Long, e: Long): Long = uint(p, s, e - s, le = false)
    var docType: String = null
    var tscale = -1L
    var durTicks = -1.0
    var nTracks = 0L
    var width, height = -1L
    var sawInfo = false
    // First-wins throughout (the [[mp4Header]] first-track discipline,
    // extended to masters): only the FIRST Segment, and within it the
    // first Info and first Tracks, are read — resilience-style repeated
    // headers and concatenated init segments neither inflate the track
    // count nor overwrite earlier fields.
    var dimsLocked = false
    def walkTrackEntry(b0: Long, b1: Long): Unit = {
      var ttype = -1L
      var vS, vE = -1L
      ebmlElements(p, b0, b1) { (id, s, e) =>
        if (id == 0x83L) ttype = num(s, e)
        else if (id == 0xE0L && vS < 0) { vS = s; vE = e }
      }
      // The first video-type track with a Video child claims the dims
      // ATOMICALLY — whatever subset it declares is the answer; a later
      // track never fills in a missing half (no cross-track chimera).
      if (ttype == 1L && vS >= 0 && !dimsLocked) {
        dimsLocked = true
        ebmlElements(p, vS, vE) { (id, s, e) =>
          if (id == 0xB0L && width < 0) width = num(s, e)
          else if (id == 0xBAL && height < 0) height = num(s, e)
        }
      }
    }
    var sawTracks = false
    def walkSegment(b0: Long, b1: Long): Unit = ebmlElements(p, b0, b1) {
      (id, s, e) =>
        if (id == 0x1549A966L && !sawInfo) { // first Info
          sawInfo = true
          ebmlElements(p, s, e) { (cid, cs, ce) =>
            if (cid == 0x2AD7B1L && tscale < 0) tscale = num(cs, ce)
            else if (cid == 0x4489L && durTicks < 0) durTicks = ce - cs match {
              // Duration: a 4- or 8-byte float
              case 4L =>
                java.lang.Float.intBitsToFloat(num(cs, ce).toInt).toDouble
              case 8L => java.lang.Double.longBitsToDouble(num(cs, ce))
              case _ => -1.0
            }
          }
        } else if (id == 0x1654AE6BL && !sawTracks) { // first Tracks
          sawTracks = true
          ebmlElements(p, s, e) { (cid, cs, ce) =>
            if (cid == 0xAEL) { nTracks += 1; walkTrackEntry(cs, ce) }
          }
        }
    }
    if (p.length < 4) return bad
    var sawSegment = false
    ebmlElements(p, 0, p.length) { (id, s, e) =>
      if (id == 0x1A45DFA3L) // EBML header
        ebmlElements(p, s, e) { (cid, cs, ce) =>
          if (cid == 0x4282L && docType == null) docType = ascii(p, cs, ce)
        }
      else if (id == 0x18538067L && !sawSegment) {
        sawSegment = true
        walkSegment(s, e)
      }
    }
    if (tscale < 0 && sawInfo) tscale = 1000000L // spec default
    if (docType == null || !sawInfo || tscale <= 0 || durTicks < 0 ||
        nTracks == 0) bad
    else (docType, tscale,
      math.rint(durTicks * tscale / 1e6).toLong, nTracks, width, height)
  }

  /** Deterministic header-only Matroska/WebM: spec-shaped EBML elements
    * (EBML{DocType} + Segment{Info{TimestampScale, Duration},
    * Tracks{TrackEntry×n}}) with every field a closed form of the doc
    * id — the [[makeMp4]] analog for the EBML family, exercising the
    * format's own layout variance: odd ids are webm with a 4-byte
    * float Duration, even ids matroska with 8-byte (tick counts stay
    * < 2^24 so float32 is exact); ids %5==0 write the Segment with an
    * UNKNOWN size (the live-stream shape); ids %3==0 write Info's size
    * as a non-minimal 2-byte VINT. doc_type = matroska/webm by id%2,
    * timescale = 1e6·(1 + id%3) ns, duration = ((1 + id%30)·1000 +
    * id%7) ticks → duration_ms = ticks·(1 + id%3), 1 + id%3 tracks,
    * first track video 160 + (id%6)·32 × 120 + (id%5)·24, later tracks
    * audio-shaped (SamplingFrequency, no dims). */
  def makeMkv(docId: Long): Array[Byte] = {
    val webm = docId % 2 == 1
    val tscale = 1000000L * (1 + docId % 3)
    val ticks = (1 + docId % 30) * 1000 + docId % 7
    val w = 160 + (docId % 6) * 32
    val h = 120 + (docId % 5) * 24
    val info = element(0x1549A966L,
      element(0x2AD7B1L, written(_.be(tscale, 4))) ++
        (if (webm) element(0x4489L, written(_.be(
           java.lang.Float.floatToIntBits(ticks.toFloat) & 0xffffffffL, 4)))
         else element(0x4489L, written(_.be(
           java.lang.Double.doubleToLongBits(ticks.toDouble), 8)))),
      wide = docId % 3 == 0)
    def trackEntry(t: Int): Array[Byte] =
      element(0xAEL, element(0x83L, written(_.be(if (t == 1) 1 else 2, 1))) ++
        (if (t == 1)
           element(0xE0L, element(0xB0L, written(_.be(w, 2))) ++
             element(0xBAL, written(_.be(h, 2))))
         else // SamplingFrequency 44100.0, the audio-track shape
           element(0xE1L, element(0xB5L,
             written(_.be(java.lang.Double.doubleToLongBits(44100.0), 8))))))
    val segBody = info ++ element(0x1654AE6BL,
      (1 to (1 + docId % 3).toInt).map(trackEntry).reduce(_ ++ _))
    element(0x1A45DFA3L, element(0x4282L,
      (if (webm) "webm" else "matroska").getBytes("US-ASCII"))) ++
      (if (docId % 5 == 0) // unknown-size Segment: marker-only VINT
         written(_.be(0x18538067L, 4)) ++ Array(0xff.toByte) ++ segBody
       else element(0x18538067L, segBody))
  }

  /** An EBML element: the id's bytes (marker included, so its length is
    * the id's), the body size as a 1-byte VINT — 2-byte when it does not
    * fit or `wide` asks for the non-minimal form — then the body. */
  private def element(id: Long, body: Array[Byte],
                      wide: Boolean = false): Array[Byte] = {
    val n = body.length
    require(n < (1 << 14) - 1)
    written { o =>
      o.be(id, (71 - java.lang.Long.numberOfLeadingZeros(id)) / 8)
      (if (!wide && n < 127) o.be(0x80 | n, 1) else o.be(0x4000 | n, 2))
        .bytes(body)
    }
  }

  /** Deterministic Motion-JPEG-in-Matroska: a REAL EBML container whose
    * video track declares CodecID V_MJPEG and whose Clusters carry one
    * SimpleBlock per JPEG frame (track-number VINT + 2-byte relative
    * timestamp + flags, no lacing — the spec block layout) — the
    * Matroska sibling of [[makeMjpegMp4]]. 2 + id%5 frames of
    * (10 + id%7) × (8 + id%6) uniform pixels, frame f's color =
    * [[mjpegColor]]((2·id + 5f) % 20). Frames split across TWO
    * Clusters when more than 2 (multi-cluster walk exercised), and the
    * second frame ships as BlockGroup{Block} instead of SimpleBlock so
    * both block shapes are demuxed. */
  def makeMjpegMkv(docId: Long): Array[Byte] = {
    def el(id: Long, body: Array[Byte]) = element(id, body, wide = true)
    val w = (10 + docId % 7).toInt
    val h = (8 + docId % 6).toInt
    val nf = (2 + docId % 5).toInt
    val frames = (0 until nf).map { f =>
      val (r, g, b) = mjpegColor(((2 * docId + 5 * f) % 20).toInt)
      encodeJpeg(uniformImage(w, h, r, g, b))
    }
    val ebml = el(0x1A45DFA3L, el(0x4282L, "matroska".getBytes("US-ASCII")))
    val info = el(0x1549A966L, el(0x2AD7B1L, written(_.be(1000000L, 4))) ++
      el(0x4489L, written(
        _.be(java.lang.Double.doubleToLongBits(nf * 40.0), 8))))
    val track = el(0xAEL,
      el(0xD7L, written(_.be(1L, 1))) ++             // TrackNumber = 1
        el(0x83L, written(_.be(1L, 1))) ++           // TrackType video
        el(0x86L, "V_MJPEG".getBytes("US-ASCII")) ++ // CodecID
        el(0xE0L, el(0xB0L, written(_.be(w, 2))) ++
          el(0xBAL, written(_.be(h, 2)))))
    // block body: track VINT (0x81 = track 1), s16 ts RELATIVE to the
    // enclosing Cluster's Timestamp (the spec shape — a demuxer places
    // the frame at cluster_ts + block_ts), flags
    def blockBody(f: Int, base: Int): Array[Byte] =
      written(_.be(0x81, 1).be((f - base) * 40L, 2).be(0, 1).bytes(frames(f)))
    def blockEl(f: Int, base: Int): Array[Byte] =
      if (f == 1) // second frame: BlockGroup{Block} shape
        el(0xA0L, el(0xA1L, blockBody(f, base)))
      else el(0xA3L, blockBody(f, base)) // SimpleBlock
    def cluster(fs: Seq[Int]): Array[Byte] =
      el(0x1F43B675L,
        el(0xE7L, written(_.be(fs.head * 40L, 2))) ++   // Cluster Timestamp
          fs.map(blockEl(_, fs.head)).reduce(_ ++ _))
    val clusters =
      if (nf <= 2) cluster(0 until nf)
      else cluster(0 until 2) ++ cluster(2 until nf)
    ebml ++ el(0x18538067L, info ++ el(0x1654AE6BL, track) ++ clusters)
  }

  private def notMkv(p: Array[Byte]): Boolean =
    tag(p, 0) != 0x1a45dfa3

  /** REAL Matroska Motion-JPEG demux — the EBML walk of [[mkvHeader]]
    * ([[ebmlElements]]) extended to the data path: Segment → Tracks finds
    * the track NUMBERS whose CodecID starts with V_MJPEG, then every
    * Cluster's SimpleBlock (and BlockGroup→Block) whose track-number VINT
    * matches yields its frame bytes (block header = track VINT + 2-byte
    * relative timestamp + flags; laced blocks — flag bits 0x06 — are
    * skipped, the fixture never laces and a demuxer must not guess
    * frame boundaries it cannot read). Feeds the bundled JPEG reader,
    * as [[mp4JpegFrames]] does for MP4. */
  def mkvJpegFrames(p: Array[Byte]): IndexedSeq[Array[Byte]] = {
    if (notMkv(p)) return IndexedSeq.empty
    val mjpegTracks = scala.collection.mutable.Set.empty[Long]
    val out = IndexedSeq.newBuilder[Array[Byte]]
    // block body in [s, e): track VINT, s16 rel-ts, flags, frame bytes
    def block(s: Long, e: Long): Unit = {
      val tl = vintLen(u8(p, s))
      if (s < e && tl >= 1 && s + tl + 3 <= e &&
          mjpegTracks(uint(p, s, tl, le = false) & ((1L << (7 * tl)) - 1)) &&
          (u8(p, s + tl + 2) & 0x06) == 0)
        out += java.util.Arrays.copyOfRange(p, (s + tl + 3).toInt, e.toInt)
    }
    def walkSegment(b0: Long, b1: Long): Unit = ebmlElements(p, b0, b1) {
      (id, s, e) =>
        if (id == 0x1654AE6BL) // Tracks
          ebmlElements(p, s, e) { (cid, cs, ce) =>
            if (cid == 0xAEL) { // TrackEntry
              var num = -1L
              var codec: String = null
              ebmlElements(p, cs, ce) { (tid, ts, te) =>
                if (tid == 0xD7L && num < 0)
                  num = uint(p, ts, te - ts, le = false)
                else if (tid == 0x86L && codec == null)
                  codec = ascii(p, ts, te)
              }
              if (num > 0 && codec != null && codec.startsWith("V_MJPEG"))
                mjpegTracks += num
            }
          }
        else if (id == 0x1F43B675L) // Cluster
          ebmlElements(p, s, e) { (cid, cs, ce) =>
            if (cid == 0xA3L) block(cs, ce) // SimpleBlock
            else if (cid == 0xA0L) // BlockGroup
              ebmlElements(p, cs, ce) { (gid, gs, ge) =>
                if (gid == 0xA1L) block(gs, ge) // Block
              }
          }
    }
    ebmlElements(p, 0, p.length) { (id, s, e) =>
      if (id == 0x18538067L) walkSegment(s, e)
    }
    out.result()
  }

  /** [[mkvJpegFrames]] fused with frame decode — the Matroska sibling
    * of [[mp4FrameStats]]: EBML block walk → bundled-JPEG decode (one
    * [[FrameDecoder]] reader per partition) → channel sums, row-local,
    * zero shuffles, linear in frames. Sentinels: non-EBML payload → one
    * frame_idx −1 row; no MJPEG track / broken walk → no rows; an
    * undecodable block → −1 stats at its frame_idx. */
  def mkvFrameStats(ds: Dataset[PayloadRow], stride: Int)
      : Dataset[FrameStats] =
    containerFrameStats(ds, stride, notMkv, mkvJpegFrames)

  /** [[mkvHeader]] over a payload Dataset — typed map, Tungsten
    * encoders, no per-row setup ([[videoHeaders]]' EBML sibling). */
  def mkvHeaders(ds: Dataset[PayloadRow]): Dataset[MkvMeta] =
    perRow(ds) { r =>
      val (dt, ts, ms, n, w, h) = mkvHeader(r.payload)
      MkvMeta(r.doc_id, dt, ts, ms, n, w, h)
    }

  final case class TiffMeta(doc_id: Long, byte_order: String,
                            width: Long, height: Long, orientation: Long,
                            n_pages: Long)

  /** REAL TIFF/EXIF-class metadata — the pure-byte IFD walk (TIFF 6.0
    * §2: 8-byte header `II`/`MM` + magic 42 + IFD0 offset; each IFD =
    * entry count, count×12-byte entries (tag, type, count,
    * value-or-offset with SHORT values LEFT-justified in the value
    * field), next-IFD offset chaining multi-page files). Reads
    * ImageWidth (256, SHORT or LONG), ImageLength (257), Orientation
    * (274 — the EXIF rotation every image pipeline must honor before
    * any pixel op), first-IFD-wins ([[mp4Header]]'s first-track
    * discipline), and counts the IFD chain (page count; cycle-guarded).
    * BOTH byte orders are real — `II` little- and `MM` big-endian
    * change every integer's layout. Non-TIFF or malformed bytes yield
    * ("unknown", −1, …). */
  def tiffHeader(p: Array[Byte])
      : (String, Long, Long, Long, Long) = {
    val bad = ("unknown", -1L, -1L, -1L, -1L)
    if (p.length < 8) return bad
    val order = ascii(p, 0, 2)
    val little = order == "II"
    if (!little && order != "MM") return bad
    if (uint(p, 2, 2, little) != 42L) return bad
    var width, height, orient = -1L
    var nPages = 0L
    var ifd = uint(p, 4, 4, little)
    var first = true
    // cycle/ runaway guard: a chain longer than 64 IFDs in a metadata
    // blob is malformed by construction
    while (ifd > 0 && ifd + 2 <= p.length && nPages < 64) {
      nPages += 1
      val n = uint(p, ifd, 2, little)
      val entries = ifd + 2
      if (first) {
        var k = 0
        while (k < n) {
          val e = entries + 12 * k
          if (e + 12 <= p.length) {
            val tag = uint(p, e, 2, little)
            val typ = uint(p, e + 2, 2, little)
            // SHORT (3) value left-justified in the value field; LONG
            // (4) fills it — both inline for count 1
            val v =
              if (typ == 3L) uint(p, e + 8, 2, little)
              else if (typ == 4L) uint(p, e + 8, 4, little)
              else -1L
            if (tag == 256L && width < 0) width = v
            else if (tag == 257L && height < 0) height = v
            else if (tag == 274L && orient < 0) orient = v
          }
          k += 1
        }
        first = false
      }
      val next = uint(p, entries + 12 * n, 4, little)
      ifd = if (next == ifd) -1L else next
    }
    if (nPages == 0) bad
    else (order, width, height, orient, nPages)
  }

  /** Deterministic TIFF fixture: spec-shaped header + IFD chain with
    * every field a closed form of the doc id — even ids `II`
    * little-endian, odd `MM` big-endian (both integer layouts
    * exercised); ImageWidth as LONG, ImageLength and Orientation as
    * SHORT (both inline value layouts); ids %3==0 carry a second
    * (page) IFD. w = 100 + id%50, h = 80 + id%40,
    * orientation = 1 + id%8, pages = 1 + (id%3==0). */
  def makeTiff(docId: Long): Array[Byte] = {
    val little = docId % 2 == 0
    val o = new Writer
    def int(v: Long, n: Int): Writer = if (little) o.le(v, n) else o.be(v, n)
    def entryShort(tag: Long, v: Long): Unit = {
      int(tag, 2); int(3, 2); int(1, 4); int(v, 2); int(0, 2)
    }
    def entryLong(tag: Long, v: Long): Unit = {
      int(tag, 2); int(4, 2); int(1, 4); int(v, 4)
    }
    val twoPages = docId % 3 == 0
    o.ascii(if (little) "II" else "MM"); int(42, 2); int(8, 4)
    // IFD0 at offset 8: 3 entries + next pointer
    int(3, 2)
    entryLong(256, 100 + docId % 50)
    entryShort(257, 80 + docId % 40)
    entryShort(274, 1 + docId % 8)
    int(if (twoPages) 8L + 2 + 3 * 12 + 4 else 0L, 4)
    if (twoPages) {
      // page 2: one entry (its own dims stay unread — first-wins)
      int(1, 2); entryLong(256, (100 + docId % 50) / 2); int(0, 4)
    }
    o.result
  }

  /** [[tiffHeader]] over a payload Dataset — typed map, Tungsten
    * encoders, no per-row setup (the metadata family's TIFF member). */
  def tiffHeaders(ds: Dataset[PayloadRow]): Dataset[TiffMeta] =
    perRow(ds) { r =>
      val (o, w, h, or, n) = tiffHeader(r.payload)
      TiffMeta(r.doc_id, o, w, h, or, n)
    }

  final case class FlacMeta(doc_id: Long, sample_rate: Long,
                            channels: Long, bits: Long,
                            total_samples: Long, duration_ms: Long,
                            n_blocks: Long)

  /** REAL FLAC metadata — the pure-byte METADATA_BLOCK walk (RFC 9639
    * §8: `fLaC` magic, then blocks of 1-byte header — bit 7 the
    * last-block flag, bits 0-6 the type — + 24-bit big-endian length;
    * STREAMINFO is type 0 and mandatorily first). STREAMINFO's packed
    * core is one big-endian u64 at body offset 10: sample rate (20
    * bits) | channels−1 (3) | bits-per-sample−1 (5) | total samples
    * (36 — the field that overflows a u32, which the fixture
    * exercises). duration_ms = total·1000/rate in integer arithmetic
    * so the oracle divides identically. Counts the block chain
    * (runaway-capped like [[tiffHeader]]'s IFD guard). Non-FLAC or
    * malformed bytes yield (−1, …). */
  def flacHeader(p: Array[Byte]): (Long, Long, Long, Long, Long, Long) = {
    val bad = (-1L, -1L, -1L, -1L, -1L, -1L)
    if (p.length < 8 || tag(p, 0) != fourcc("fLaC")) return bad
    var rate, chan, bits, total = -1L
    var nBlocks = 0L
    var i = 4L
    var last = false
    while (!last && i + 4 <= p.length && nBlocks < 64) {
      val h = u8(p, i)
      last = (h & 0x80) != 0
      val len = u24be(p, i + 1)
      if (i + 4 + len > p.length) return bad // truncated mid-block
      nBlocks += 1
      if ((h & 0x7f) == 0 && rate < 0 && len >= 34) {
        val u = u64be(p, i + 4 + 10)
        rate = u >>> 44
        chan = ((u >>> 41) & 0x7L) + 1
        bits = ((u >>> 36) & 0x1fL) + 1
        total = u & ((1L << 36) - 1)
      }
      i += 4 + len
    }
    if (rate <= 0) bad
    else (rate, chan, bits, total, total * 1000L / rate, nBlocks)
  }

  /** Deterministic FLAC fixture: spec-shaped magic + STREAMINFO +
    * id%3 PADDING blocks (last-block flag on the final one), every
    * field a closed form of the doc id — rate = 8000·(1 + id%6),
    * channels = 1 + id%8 (all 3 field bits), bits = 8 + (id%4)·4
    * (the −1-coded 5-bit field), total = 10000 + id%9973 plus 2^33
    * for ids %5==0 (forces the 36-bit read past u32). */
  def makeFlac(docId: Long): Array[Byte] = {
    val rate = 8000L * (1 + docId % 6)
    val chan = 1 + docId % 8
    val bits = 8 + (docId % 4) * 4
    val total = 10000L + docId % 9973 +
      (if (docId % 5 == 0) 1L << 33 else 0L)
    val nPad = (docId % 3).toInt
    val o = new Writer().ascii("fLaC")
    // STREAMINFO: type 0, 34 bytes; last-block flag iff no padding;
    // min/max block size 4096, min/max frame size unknown (0), the packed
    // rate/channels/bits/total, MD5 zeros
    o.be(if (nPad == 0) 0x80 else 0x00, 1).be(34, 3)
      .be(0x1000, 2).be(0x1000, 2).be(0, 3).be(0, 3)
      .be((rate << 44) | ((chan - 1) << 41) | ((bits - 1) << 36) | total, 8)
      .zeros(16)
    for (j <- 1 to nPad) // PADDING, last on final
      o.be(if (j == nPad) 0x81 else 0x01, 1).be(4, 3).zeros(4)
    o.result
  }

  /** [[flacHeader]] over a payload Dataset — typed map, Tungsten
    * encoders, no per-row setup (the metadata family's FLAC member). */
  def flacHeaders(ds: Dataset[PayloadRow]): Dataset[FlacMeta] =
    perRow(ds) { r =>
      val (sr, c, b, t, d, n) = flacHeader(r.payload)
      FlacMeta(r.doc_id, sr, c, b, t, d, n)
    }

  final case class Mp3Meta(doc_id: Long, bitrate_kbps: Long,
                           sample_rate: Long, channels: Long,
                           n_frames: Long, duration_ms: Long,
                           id3_size: Long)

  /** MPEG-1 Layer III bitrate table (kbps), index 1..14 (0 = free,
    * 15 = bad — both rejected). */
  private val mp3Bitrates = Array(-1L, 32L, 40L, 48L, 56L, 64L, 80L,
    96L, 112L, 128L, 160L, 192L, 224L, 256L, 320L, -1L)
  /** MPEG-1 sample-rate table (Hz), index 0..2 (3 = reserved). */
  private val mp3Rates = Array(44100L, 48000L, 32000L, -1L)

  /** REAL MP3 metadata — the pure-byte MPEG audio frame walk: an
    * optional ID3v2 prefix (`ID3` magic, 2 version + 1 flag bytes, a
    * 28-bit SYNCSAFE size — 4 bytes of 7 bits, the encoding that keeps
    * tag bytes from faking a frame sync) is skipped, then CBR frames
    * are hopped header-by-header: 11-bit sync, MPEG-1 (version bits
    * 11) Layer III (layer bits 01) only, bitrate/sample-rate table
    * lookups, padding bit, channel mode (11 = mono); frame length =
    * 144000·bitrate/rate + padding in integer arithmetic, so the hop
    * and the oracle truncate identically. First-frame-wins fields
    * (m06's first-track rule), every frame's sync re-verified (a
    * mid-stream desync stops the walk), runaway-capped. duration_ms =
    * frames·1152·1000/rate. Non-MP3 or malformed bytes yield (−1, …).
    */
  def mp3Header(p: Array[Byte])
      : (Long, Long, Long, Long, Long, Long) = {
    val bad = (-1L, -1L, -1L, -1L, -1L, -1L)
    var i = 0L
    var id3 = 0L
    if (p.length >= 10 && u24be(p, 0) == 0x494433L) { // "ID3"
      // syncsafe: 7 data bits per byte, high bit must be clear
      val sz = u32be(p, 6)
      if ((sz & 0x80808080L) != 0) return bad
      id3 = 10L + ((sz & 0x7f000000L) >> 3 | (sz & 0x7f0000L) >> 2 |
        (sz & 0x7f00L) >> 1 | (sz & 0x7fL))
      if (id3 > p.length) return bad
      i = id3
    }
    var br, sr, chan = -1L
    var frames = 0L
    var ok = true
    while (ok && i + 4 <= p.length && frames < 10000) {
      val b2 = u8(p, i + 1)
      if (u8(p, i) != 0xff || (b2 & 0xe0) != 0xe0) ok = false
      else if (((b2 >> 3) & 3) != 3 || ((b2 >> 1) & 3) != 1) ok = false
      else {
        val b3 = u8(p, i + 2).toInt
        val thisBr = mp3Bitrates((b3 >> 4) & 15)
        val thisSr = mp3Rates((b3 >> 2) & 3)
        if (thisBr < 0 || thisSr < 0) ok = false
        else {
          if (frames == 0) {
            br = thisBr; sr = thisSr
            chan = if ((u8(p, i + 3) >> 6) == 3) 1L else 2L
          }
          val len = 144000L * thisBr / thisSr + ((b3 >> 1) & 1)
          if (len < 4 || i + len > p.length) ok = false
          else { frames += 1; i += len }
        }
      }
    }
    if (frames == 0) bad
    else (br, sr, chan, frames, frames * 1152L * 1000L / sr, id3)
  }

  /** Deterministic MP3 fixture: ID3v2 tag (syncsafe-sized payload of
    * 10 + id%200 bytes, 0xFF-laced to prove the skip is size-driven,
    * not sync-scan-driven) + 5 + id%20 CBR MPEG-1 Layer III frames,
    * every field a closed form of the doc id — bitrate index
    * 1 + id%14 (all 14 table rows), sample-rate index id%3 (all 3),
    * channel mode id%4 (mono and all three stereo modes), per-frame
    * padding bit (id + frame) % 2 (both hop lengths). Frame bodies are
    * zero-filled — metadata-real, payload-free (the makeWav header
    * discipline). */
  def makeMp3(docId: Long): Array[Byte] = {
    val brIdx = 1 + (docId % 14).toInt
    val srIdx = (docId % 3).toInt
    val tagLen = 10 + (docId % 200).toInt
    // ID3 v2.4, no flags, syncsafe size (7 bits per byte), sync-bait
    // payload
    val o = new Writer().ascii("ID3").be(0x040000, 3)
    for (k <- 3 to 0 by -1) o.be((tagLen >> (7 * k)) & 0x7f, 1)
    o.bytes(Array.fill(tagLen)(0xff.toByte))
    for (f <- 0 until 5 + (docId % 20).toInt) {
      val pad = ((docId + f) % 2).toInt
      // sync + MPEG-1 Layer III, then bitrate/rate/padding, channel mode
      o.be(0xfffb, 2).be((brIdx << 4) | (srIdx << 2) | (pad << 1), 1)
        .be((docId % 4) << 6, 1)
        .zeros(144000L * mp3Bitrates(brIdx) / mp3Rates(srIdx) + pad - 4)
    }
    o.result
  }

  /** [[mp3Header]] over a payload Dataset — typed map, Tungsten
    * encoders, no per-row setup (the metadata family's MP3 member). */
  def mp3Headers(ds: Dataset[PayloadRow]): Dataset[Mp3Meta] =
    perRow(ds) { r =>
      val (b, sr, c, n, d, id3) = mp3Header(r.payload)
      Mp3Meta(r.doc_id, b, sr, c, n, d, id3)
    }

  final case class ZipMeta(doc_id: Long, n_entries: Long,
                           total_comp: Long, total_uncomp: Long,
                           n_deflated: Long, crc_sum: Long)

  /** REAL ZIP archive listing — the pure-byte central-directory walk
    * (APPNOTE.TXT §4.3: the End Of Central Directory record is found
    * by scanning BACKWARD from EOF for PK\5\6 — the only correct way,
    * since a trailing archive comment of up to 64 KiB floats it — then
    * entry count / CD offset fields point at the PK\1\2 entry chain,
    * each carrying method, CRC-32, compressed/uncompressed sizes and
    * variable name/extra/comment lengths that stride the walk). The
    * archive-ingest primitive a corpus pipeline needs before any
    * member decode: list without decompressing a byte. Every entry's
    * signature is re-verified (a mis-stride stops the walk, never
    * mis-slices); non-ZIP or malformed bytes yield (−1, …). */
  def zipListing(p: Array[Byte])
      : (Long, Long, Long, Long, Long) = {
    val bad = (-1L, -1L, -1L, -1L, -1L)
    if (p.length < 22) return bad
    // EOCD backward scan (bounded by the 64 KiB max comment)
    var e = p.length - 22L
    val stop = math.max(0, p.length - 22 - 65535)
    while (e >= stop && u32le(p, e) != 0x06054b50L) e -= 1
    if (e < stop) return bad
    val n = u16le(p, e + 10)
    var i = u32le(p, e + 16)
    if (i > p.length) return bad
    var k = 0L
    var comp, uncomp, defl, crc = 0L
    while (k < n) {
      if (i + 46 > p.length || u32le(p, i) != 0x02014b50L) return bad
      crc += u32le(p, i + 16)
      comp += u32le(p, i + 20)
      uncomp += u32le(p, i + 24)
      if (u16le(p, i + 10) == 8L) defl += 1
      i += 46 + u16le(p, i + 28) + u16le(p, i + 30) + u16le(p, i + 32)
      k += 1
    }
    (n, comp, uncomp, defl, crc)
  }

  /** Deterministic ZIP fixture: 1 + id%5 central-directory entries
    * with closed-form method ((id+j)%2 → stored/deflated), sizes
    * (comp 10+(id+j)%50, uncomp comp+(id+j)%7), CRC (id·31+j), entry
    * names of varying length (striding the walk), local headers with
    * zero-filled payloads, and an id%20-byte trailing comment laced
    * with PK bytes so only the true backward EOCD scan lands. */
  def makeZip(docId: Long): Array[Byte] = {
    val k = (1 + docId % 5).toInt
    val o = new Writer
    val names = (0 until k).map(j => s"member_${docId % 97}_$j.txt")
    // the fields a local header and its central entry share, from the
    // method on: method, time, date, crc, sizes, name and extra lengths
    def common(j: Int): Writer = {
      val comp = 10 + (docId + j) % 50
      o.le((docId + j) % 2 * 8, 2).le(0, 2).le(0, 2).le(docId * 31 + j, 4)
        .le(comp, 4).le(comp + (docId + j) % 7, 4).le(names(j).length, 2)
        .le(0, 2)
    }
    val offs = for (j <- 0 until k) yield {
      val off = o.size
      o.le(0x04034b50L, 4).le(20, 2).le(0, 2)
      common(j)
      o.ascii(names(j)).zeros(10 + (docId + j) % 50) // payload (zeros)
      off
    }
    val cdOff = o.size
    for (j <- 0 until k) {
      o.le(0x02014b50L, 4).le(20, 2).le(20, 2).le(0, 2)
      common(j).le(0, 2).le(0, 2).le(0, 2).le(0, 4).le(offs(j), 4)
        .ascii(names(j))
    }
    val cdSize = o.size - cdOff
    o.le(0x06054b50L, 4).le(0, 2).le(0, 2).le(k, 2).le(k, 2).le(cdSize, 4)
      .le(cdOff, 4).le(docId % 20, 2).ascii("P" * (docId % 20).toInt)
      .result
  }

  /** [[zipListing]] over a payload Dataset — typed map, Tungsten
    * encoders, no per-row setup (the metadata family's archive
    * member). */
  def zipListings(ds: Dataset[PayloadRow]): Dataset[ZipMeta] =
    perRow(ds) { r =>
      val (n, c, u, d, crc) = zipListing(r.payload)
      ZipMeta(r.doc_id, n, c, u, d, crc)
    }

  final case class WebpMeta(doc_id: Long, variant: String, width: Long,
                            height: Long, has_alpha: Long)

  /** REAL WebP metadata: the RIFF chunk walk ([[riffChunks]]) to the
    * first recognized bitstream chunk, covering all three container
    * variants:
    *   - `VP8X` (extended): canvas dims as 24-bit LE minus-one fields,
    *     alpha from the flags byte (bit 4);
    *   - `VP8L` (lossless): 0x2F signature then 14+14-bit dims-minus-one
    *     and the alpha-used bit, packed little-endian over 4 bytes;
    *   - `VP8 ` (lossy): 3-byte frame tag, 0x9D 01 2A sync code, then
    *     14-bit dims in two LE u16s (scale bits masked off); no alpha.
    * Reads only declared sizes; odd chunk sizes pad to even offsets.
    * Non-WebP or malformed bytes yield ("unknown", -1, -1, -1). */
  def webpHeader(p: Array[Byte]): (String, Long, Long, Long) = {
    var out = ("unknown", -1L, -1L, -1L)
    if (riff(p, "WEBP"))
      riffChunks(p, 12, p.length) { (t, b, sz) =>
        if (t == fourcc("VP8X") && sz >= 10 && b + 10 <= p.length)
          out = ("vp8x", u24le(p, b + 4) + 1, u24le(p, b + 7) + 1,
            (u8(p, b) >> 4) & 1)
        else if (t == fourcc("VP8L") && sz >= 5 && b + 5 <= p.length &&
            u8(p, b) == 0x2f) {
          val bits = u32le(p, b + 1)
          out = ("vp8l", (bits & 0x3fff) + 1, ((bits >> 14) & 0x3fff) + 1,
            (bits >> 28) & 1)
        } else if (t == fourcc("VP8 ") && sz >= 10 && b + 10 <= p.length &&
            u24be(p, b + 3) == 0x9d012aL)
          out = ("vp8", u16le(p, b + 6) & 0x3fff, u16le(p, b + 8) & 0x3fff, 0L)
        out._1 == "unknown"
      }
    out
  }

  /** [[makeWebp]]'s closed-form dimension formulas, shared VERBATIM
    * with the m11 oracle SQL (the st11WithinSec/t18Merges/p11Seed
    * shared-constant discipline): width = base + id % wMod, height =
    * base + id % hMod, variant cycle id % 3, alpha 1 - id % 2. */
  private[graft] val WebpDimBase = 16L
  private[graft] val WebpWMod = 301L
  private[graft] val WebpHMod = 211L

  /** Deterministic header-only WebP ([[makeWav]]'s discipline on the
    * image container): variant cycles vp8x/vp8l/vp8 by doc_id % 3,
    * width = 16 + id % 301, height = 16 + id % 211, alpha = 1 - id % 2
    * (lossy vp8 carries no alpha). Every field a closed form of doc_id
    * so the oracle recomputes it arithmetically. */
  def makeWebp(docId: Long): Array[Byte] = {
    val w = WebpDimBase + docId % WebpWMod
    val h = WebpDimBase + docId % WebpHMod
    val alpha = 1L - docId % 2
    riffChunk("RIFF", written(_.ascii("WEBP")), (docId % 3) match {
      case 0 => riffChunk("VP8X",
        written(_.be(alpha << 4, 1).zeros(3).le(w - 1, 3).le(h - 1, 3)))
      case 1 => riffChunk("VP8L", written(_.be(0x2f, 1)
        .le((w - 1) | ((h - 1) << 14) | (alpha << 28), 4)))
      case _ => riffChunk("VP8 ",
        written(_.zeros(3).be(0x9d012a, 3).le(w, 2).le(h, 2)))
    })
  }

  /** A RIFF chunk: tag, 32-bit little-endian body size, the body, and a
    * pad byte after an odd-sized body. */
  private def riffChunk(id: String, body: Array[Byte]*): Array[Byte] = {
    val n = body.map(_.length).sum
    written(_.ascii(id).le(n, 4).bytes(body: _*).zeros(n & 1))
  }

  /** [[webpHeader]] over a payload Dataset — typed map, Tungsten
    * encoders ([[mkvHeaders]]' RIFF-image sibling). */
  def webpHeaders(ds: Dataset[PayloadRow]): Dataset[WebpMeta] =
    perRow(ds) { r =>
      val (v, w, h, a) = webpHeader(r.payload)
      WebpMeta(r.doc_id, v, w, h, a)
    }

  /** Deterministic FULLY-DECODABLE PNG: a w×h RGB image whose every pixel
    * is a closed-form function of (doc_id, x, y) — r = (doc_id+x+y)%256,
    * g = (doc_id+2x+y)%256, b = (doc_id+x+2y)%256, w = 8+doc_id%9,
    * h = 8+doc_id%7 — encoded by the JDK's pure-Java `javax.imageio` PNG
    * writer. PNG is lossless, so [[pixelStats]]' decode recovers the
    * pattern EXACTLY and the DuckDB oracle can recompute the channel means
    * arithmetically from doc_id alone (the pixel analog of
    * [[makeImage]]/[[makeWav]]'s header oracles). */
  /** [[makeRealPng]]'s closed-form dimensions, shared VERBATIM with
    * the m03/m12 oracle SQL (the [[WebpDimBase]] discipline). */
  private[graft] val PngDimBase = 8L
  private[graft] val PngWMod = 9L
  private[graft] val PngHMod = 7L

  def makeRealPng(docId: Long): Array[Byte] = {
    val w = (PngDimBase + docId % PngWMod).toInt
    val h = (PngDimBase + docId % PngHMod).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((docId + x + y) % 256).toInt
        val g = ((docId + 2 * x + y) % 256).toInt
        val b = ((docId + x + 2 * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic multi-frame (animated) GIF: 2 + doc_id%4 frames of
    * w×h = (6 + doc_id%5) × (6 + doc_id%3) GRAYSCALE pixels, frame f's
    * pixel (x, y) = (doc_id + 11·f + x + y) % 256 on all three channels.
    * Frames are TYPE_BYTE_INDEXED over an explicit 256-entry gray
    * palette (entry i = rgb(i,i,i)) with raster samples written
    * directly — no sRGB/linear-gray colorspace conversion anywhere
    * (TYPE_BYTE_GRAY + setRGB would gamma-shift the values), and GIF
    * stores palettes verbatim — so the round-trip through
    * [[frameStatsFused]]' real decoder recovers the pattern EXACTLY: the
    * multi-frame analog of [[makeRealPng]]'s closed-form oracle. */
  def makeRealGif(docId: Long): Array[Byte] = {
    val w = (6 + docId % 5).toInt
    val h = (6 + docId % 3).toInt
    val nFrames = (2 + docId % 4).toInt
    val grays = Array.tabulate(256)(_.toByte)
    val palette = new java.awt.image.IndexColorModel(
      8, 256, grays, grays, grays)
    val bos = new java.io.ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nFrames) {
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, ((docId + 11 * f + x + y) % 256).toInt)
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(
          new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** splitmix64-style pixel noise — a cheap deterministic PRNG over
    * (doc_id, x, y), so [[makeNoisePng]] images have DIVERSE content
    * (unlike [[makeRealPng]]'s gradient, whose mean-relative shape — and
    * therefore its perceptual hash — is the same for every doc). */
  def noise(docId: Long, x: Int, y: Int): Int = {
    var z = docId * 0x9E3779B97F4A7C15L + x * 0xBF58476D1CE4E5B9L +
      y * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((z ^ (z >>> 31)) & 0xffL).toInt
  }

  /** Deterministic grayscale noise PNG for the perceptual-hash dedup
    * gate: pixel (x, y) carries [[noise]](doc_id, x, y) on all three
    * channels. `variant > 0` applies a monotone brightness/contrast
    * transform (v → min(255, 29v/32 + 12)) to every pixel — the classic
    * re-encoded-asset perturbation a perceptual hash must see through
    * (block-mean ORDER is nearly preserved, so the aHash moves at most a
    * few bits), while content hashes (md5 of bytes) break completely. */
  def makeNoisePng(docId: Long, variant: Int = 0): Array[Byte] = {
    val w = (16 + docId % 9).toInt
    val h = (16 + docId % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v0 = noise(docId, x, y)
        val v = if (variant == 0) v0 else math.min(255, (v0 * 29) / 32 + 12)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  final case class HashSig(id: Long, sig: Long)

  /** 64-bit average perceptual hash (aHash) of a decoded image: luma
    * block-means on an 8×8 grid, bit set iff the block mean exceeds the
    * mean of block means. Robust to monotone brightness/contrast changes
    * and resizing — the image-level near-dup signature, paired at corpus
    * scale by [[graft.dedup.Dedup.hammingNearDups]]'s pigeonhole band
    * join exactly like SimHash text signatures. Runs at the codec
    * boundary ([[pixelStats]]' mapPartitions discipline); undecodable
    * payloads are dropped (no sentinel rows to pair). */
  def aHashes(ds: Dataset[PayloadRow]): Dataset[HashSig] =
    decoding(ds) { (dec, rows) =>
      rows.flatMap { r =>
        val img = dec.decode(r.payload)
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          val sums = new Array[Long](64)
          val cnts = new Array[Long](64)
          val fast = rgbByteLayout(img)
          if (fast != null) {
            val (d, stride, ro, go, bo) = fast
            var y = 0
            var i = 0
            while (y < h) {
              val by = math.min(y * 8 / h, 7)
              var x = 0
              while (x < w) {
                val bx = math.min(x * 8 / w, 7)
                // integer ITU-R 601 luma ×1000 — exact, no float rounding
                val luma = (d(i + ro) & 0xff) * 299 +
                  (d(i + go) & 0xff) * 587 + (d(i + bo) & 0xff) * 114
                sums(by * 8 + bx) += luma
                cnts(by * 8 + bx) += 1
                i += stride
                x += 1
              }
              y += 1
            }
          } else {
            var y = 0
            while (y < h) {
              val by = math.min(y * 8 / h, 7)
              var x = 0
              while (x < w) {
                val bx = math.min(x * 8 / w, 7)
                val rgb = img.getRGB(x, y)
                // integer ITU-R 601 luma ×1000 — exact, no float rounding
                val luma = ((rgb >> 16) & 0xff) * 299 +
                  ((rgb >> 8) & 0xff) * 587 + (rgb & 0xff) * 114
                sums(by * 8 + bx) += luma
                cnts(by * 8 + bx) += 1
                x += 1
              }
              y += 1
            }
          }
          // images smaller than 8×8 leave empty blocks; treat as mean 0
          val means = Array.tabulate(64)(i =>
            if (cnts(i) == 0) 0.0 else sums(i).toDouble / cnts(i))
          val global = means.sum / 64.0
          var sig = 0L
          var i = 0
          while (i < 64) {
            if (means(i) > global) sig |= (1L << i)
            i += 1
          }
          Some(HashSig(r.doc_id, sig))
        }
      }
    }

  final case class PixelStats(doc_id: Long, width: Long, height: Long,
                              n_pixels: Long, sum_r: Long, sum_g: Long,
                              sum_b: Long)

  /** REAL pixel decode — `javax.imageio` (pure-JVM PNG/GIF/BMP/JPEG
    * readers ship in `java.desktop`; no native media codecs needed), run
    * partition-batched at the codec boundary. Emits per-image channel
    * sums (exact longs; means = sum/n_pixels are derived downstream so the
    * aggregate stays engine-portable). Undecodable payloads (video, the
    * header-only [[makeImage]] blobs, arbitrary bytes) yield -1 sentinels
    * rather than failing the batch — the only formats still without a real
    * decode path are ones `javax.imageio` has no reader for. */
  def pixelStats(ds: Dataset[PayloadRow]): Dataset[PixelStats] =
    decoding(ds) { (dec, rows) =>
      rows.map { r =>
        val img = dec.decode(r.payload)
        if (img == null)
          PixelStats(r.doc_id, -1L, -1L, -1L, -1L, -1L, -1L)
        else {
          val (w, h, sr, sg, sb) = rgbSums(img)
          PixelStats(r.doc_id, w, h, w * h, sr, sg, sb)
        }
      }
    }

  final case class ColorHist(doc_id: Long, bin: Long, n_r: Long,
                             n_g: Long, n_b: Long)

  /** REAL per-channel color histograms (16 equi-width bins of 16 values,
    * bin = value / 16): the classic image quality / dedup / dataset-
    * curation signal next to [[pixelStats]]' means — integer pixel
    * COUNTS, so the oracle recomputes every bin exactly from the
    * closed-form synthesized pixels. Decode at the codec boundary
    * ([[pixelStats]]' mapPartitions discipline), then each image emits
    * its fixed 16 rows (zero bins included — the oracle's join has no
    * presence ambiguity). Undecodable payloads yield one (-1, -1, -1,
    * -1) sentinel row. */
  def colorHistograms(ds: Dataset[PayloadRow]): Dataset[ColorHist] =
    decoding(ds) { (dec, rows) =>
      rows.flatMap { r =>
        val img = dec.decode(r.payload)
        if (img == null) Seq(ColorHist(r.doc_id, -1L, -1L, -1L, -1L))
        else {
          val hr = new Array[Long](16)
          val hg = new Array[Long](16)
          val hb = new Array[Long](16)
          val fast = rgbByteLayout(img)
          if (fast != null) {
            val (d, stride, ro, go, bo) = fast
            var i = 0
            while (i < d.length) {
              hr((d(i + ro) & 0xff) / 16) += 1
              hg((d(i + go) & 0xff) / 16) += 1
              hb((d(i + bo) & 0xff) / 16) += 1
              i += stride
            }
          } else {
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val p = img.getRGB(x, y)
                hr(((p >> 16) & 0xff) / 16) += 1
                hg(((p >> 8) & 0xff) / 16) += 1
                hb((p & 0xff) / 16) += 1
                x += 1
              }
              y += 1
            }
          }
          (0 until 16).map(b =>
            ColorHist(r.doc_id, b.toLong, hr(b), hg(b), hb(b)))
        }
      }
    }

  /** Raster fast path: the packed byte buffer + (stride, rOff, gOff,
    * bOff) when the decoded image is one of the two byte layouts
    * `javax.imageio` actually produces for RGB content (TYPE_3BYTE_BGR
    * for opaque PNG/JPEG, TYPE_4BYTE_ABGR with alpha) and the buffer
    * has no scanline padding. These layouts carry sRGB components
    * verbatim, so reading the bytes is IDENTICAL to getRGB's values
    * without its per-pixel ColorModel round-trip (the decode-side
    * gates' hot loop). Null for anything else (palette, gray, custom) —
    * callers keep their exact getRGB fallback, which the specs pin on
    * every payload class. */
  private def rgbByteLayout(img: java.awt.image.BufferedImage)
      : (Array[Byte], Int, Int, Int, Int) = {
    val t = img.getType
    val stride =
      if (t == java.awt.image.BufferedImage.TYPE_3BYTE_BGR) 3
      else if (t == java.awt.image.BufferedImage.TYPE_4BYTE_ABGR) 4
      else return null
    img.getRaster.getDataBuffer match {
      case b: java.awt.image.DataBufferByte
          if b.getData.length == img.getWidth * img.getHeight * stride =>
        val d = b.getData
        if (stride == 3) (d, 3, 2, 1, 0) else (d, 4, 3, 2, 1)
      case _ => null
    }
  }

  /** Exact per-channel long sums of a decoded image (shared by
    * [[pixelStats]] and every frame-stats operator). */
  private def rgbSums(img: java.awt.image.BufferedImage)
      : (Long, Long, Long, Long, Long) = {
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    val fast = rgbByteLayout(img)
    if (fast != null) {
      val (d, stride, ro, go, bo) = fast
      var i = 0
      while (i < d.length) {
        sr += d(i + ro) & 0xff; sg += d(i + go) & 0xff
        sb += d(i + bo) & 0xff
        i += stride
      }
    } else {
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
          x += 1
        }
        y += 1
      }
    }
    (w.toLong, h.toLong, sr, sg, sb)
  }

  /** Multi-image frame stats for any format `javax.imageio` can read
    * (the JDK ships a multi-image GIF reader): walk the payload's image
    * sequence with `ImageReader.getNumImages`/`read(i)`, keep every
    * `stride`-th frame, and fold its channel sums in ONE pass — no
    * per-frame re-encode (BinarySpec pins it against a sample, PNG
    * re-encode, decode reference). Corrupt frame → -1 stats at its
    * frame_idx, so one bad frame never swallows its siblings;
    * unreadable container (no reader claims it, or its index is broken)
    * → one doc-level row with frame_idx = -1. */
  def frameStatsFused(ds: Dataset[PayloadRow], stride: Int)
      : Dataset[FrameStats] = {
    require(stride > 0, s"stride must be positive: $stride")
    decoding(ds) { (_, rows) =>
      rows.flatMap { r =>
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) {
          iis.close(); Iterator.single(frameStatsOf(r.doc_id, -1, null))
        } else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            (0 until n by stride).map { i =>
              try frameStatsOf(r.doc_id, i, reader.read(i))
              catch { case _: Exception => frameStatsOf(r.doc_id, i, null) }
            }.iterator
          } catch {
            case _: Exception =>
              Iterator.single(frameStatsOf(r.doc_id, -1, null))
          } finally { reader.dispose(); iis.close() }
        }
      }
    }
  }

  /** Deterministic VIDEO file: a real RIFF/AVI container (the chunk
    * grammar [[riffChunks]] walks) carrying a Motion-PNG ('MPNG') video
    * stream — 2 + doc_id%3 frames of (5 + doc_id%6) × (5 + doc_id%4) RGB
    * pixels, frame f's pixel (x,y) = ((doc_id + 17f + x + y) % 256,
    * (doc_id + 17f + 2x + y) % 256, (doc_id + 17f + x + 2y) % 256). The
    * container is spec-shaped (RIFF 'AVI ' → LIST hdrl {avih, LIST strl
    * {strh vids/MPNG, strf BITMAPINFOHEADER}} → LIST movi {00dc…}) and
    * every frame chunk is an independent lossless PNG, so
    * [[videoFrameStatsFused]]' demux + decode recovers the closed form
    * EXACTLY — the true-video analog of [[makeRealGif]]'s oracle. */
  def makeRealAvi(docId: Long): Array[Byte] = {
    val w = (5 + docId % 6).toInt
    val h = (5 + docId % 4).toInt
    val nFrames = (2 + docId % 3).toInt
    val frames = (0 until nFrames).map { f =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val r = ((docId + 17 * f + x + y) % 256).toInt
          val g = ((docId + 17 * f + 2 * x + y) % 256).toInt
          val b = ((docId + 17 * f + x + 2 * y) % 256).toInt
          img.setRGB(x, y, (r << 16) | (g << 8) | b)
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    aviContainer(w, h, frames)
  }

  /** Assemble a minimal RIFF/AVI container around already-encoded frame
    * payloads (Motion-PNG). Shared by the synthetic gate sources
    * ([[makeRealAvi]], [[makeSceneAvi]]). */
  private def aviContainer(w: Int, h: Int,
                           frames: Seq[Array[Byte]]): Array[Byte] = {
    def list(kind: String, body: Array[Byte]*): Array[Byte] =
      riffChunk("LIST", written(_.ascii(kind)) +: body: _*)
    val avih = written(o => Seq(100000, 0, 0, 0, frames.length, 0, 1, 0, w,
      h, 0, 0, 0, 0).foldLeft(o)(_.le(_, 4)))
    val strh = written(o => Seq(0, 0, 0, 1, 10, 0, frames.length, 0, 0, 0, 0,
      0).foldLeft(o.ascii("vidsMPNG"))(_.le(_, 4)))
    val strf = written(_.le(40, 4).le(w, 4).le(h, 4).le(1, 2).le(24, 2)
      .ascii("MPNG").le(w * h * 3, 4).zeros(16))
    riffChunk("RIFF", written(_.ascii("AVI ")),
      list("hdrl", riffChunk("avih", avih),
        list("strl", riffChunk("strh", strh), riffChunk("strf", strf))),
      list("movi", frames.map(riffChunk("00dc", _)): _*))
  }

  /** REAL video demux: walk a RIFF/AVI container's chunk list (the
    * [[riffChunks]] walk of [[wavHeader]]) to the `movi` LIST and return
    * the raw codec payload of every video frame chunk (00dc/00db). Pure
    * byte arithmetic — no codecs; whether the PAYLOAD is then decodable
    * is the codec's business ([[makeRealAvi]] uses lossless Motion-PNG,
    * which `javax.imageio` reads). Only chunks whose whole body is
    * present count: the first that runs past its LIST (or the file)
    * ends that walk. Multi-stream containers return ONLY the first video
    * stream encountered (chunks share its `NNdc`/`NNdb` stream prefix) —
    * interleaving a second stream's frames into one flat sequence would
    * corrupt frame indexes downstream. Non-AVI or malformed bytes yield
    * no frames. */
  def aviFrames(p: Array[Byte]): IndexedSeq[Array[Byte]] = {
    val out = IndexedSeq.newBuilder[Array[Byte]]
    var stream: String = null // first video stream's 2-char prefix
    if (riff(p, "AVI "))
      riffChunks(p, 12, p.length) { (t, b, sz) =>
        val whole = b + sz <= p.length
        if (whole && t == fourcc("LIST") && sz >= 4 &&
            tag(p, b) == fourcc("movi"))
          riffChunks(p, b + 4, b + sz) { (_, fb, fsz) =>
            val whole = fb + fsz <= b + sz
            val sid = if (whole) ascii(p, fb - 8, fb - 4) else ""
            if (sid.endsWith("dc") || sid.endsWith("db")) {
              if (stream == null) stream = sid.substring(0, 2)
              if (sid.startsWith(stream))
                out += java.util.Arrays.copyOfRange(p, fb.toInt,
                  (fb + fsz).toInt)
            }
            whole
          }
        whole
      }
    out.result()
  }

  /** True when the payload doesn't even carry the RIFF/AVI magic — the
    * container-level unreadability test (an on-magic container with a
    * broken chunk walk yields zero frames instead: the walker stops at
    * the first malformed size, which is all the information the bytes
    * offer). */
  private def notAvi(p: Array[Byte]): Boolean = !riff(p, "AVI ")

  /** RIFF/AVI frame stats: [[aviFrames]] demux → decode → channel sums
    * in one row-local pass; frame payloads are the container's own codec
    * bytes (Motion-PNG in [[makeRealAvi]]). Sentinels: non-AVI payload →
    * doc-level frame_idx = -1 row; an undecodable frame payload → -1
    * stats at its frame_idx. */
  def videoFrameStatsFused(ds: Dataset[PayloadRow], stride: Int)
      : Dataset[FrameStats] =
    containerFrameStats(ds, stride, notAvi, aviFrames)

  /** The one body of the container frame-stats operators: a payload
    * failing the container check `not` → one doc-level frame_idx −1 row;
    * else `demux`'s frames (none when it throws) every `stride`-th,
    * each decoded by the partition's [[FrameDecoder]] to channel sums,
    * −1 stats where a frame won't decode. Row-local: a clip's frames
    * live in its own payload, so zero shuffles, linear in frames. */
  private def containerFrameStats(ds: Dataset[PayloadRow], stride: Int,
      not: Array[Byte] => Boolean,
      demux: Array[Byte] => IndexedSeq[Array[Byte]]): Dataset[FrameStats] = {
    require(stride > 0, s"stride must be positive: $stride")
    decoding(ds) { (dec, rows) =>
      rows.flatMap { r =>
        if (not(r.payload)) Iterator.single(frameStatsOf(r.doc_id, -1, null))
        else {
          val frames = demuxed(r.payload, demux)
          Iterator.range(0, frames.length, stride)
            .map(i => frameStatsOf(r.doc_id, i, dec.decode(frames(i))))
        }
      }
    }
  }

  /** A frame's stats row: dims and exact channel sums, or −1 stats when
    * `img` is null (the frame or container did not decode). */
  private def frameStatsOf(docId: Long, idx: Long,
                           img: java.awt.image.BufferedImage): FrameStats =
    if (img == null) FrameStats(docId, idx, -1L, -1L, -1L, -1L, -1L, -1L)
    else {
      val (w, h, sr, sg, sb) = rgbSums(img)
      FrameStats(docId, idx, w, h, w * h, sr, sg, sb)
    }

  /** `demux`'s frames of a payload, or none when the walk throws. */
  private def demuxed(p: Array[Byte],
                      demux: Array[Byte] => IndexedSeq[Array[Byte]])
      : IndexedSeq[Array[Byte]] =
    try demux(p) catch { case _: Exception => IndexedSeq.empty }

  final case class FrameStats(doc_id: Long, frame_idx: Long, width: Long,
                              height: Long, n_pixels: Long, sum_r: Long,
                              sum_g: Long, sum_b: Long)

  /** Synthetic multi-shot AVI for the scene-cut gate: solid-color
    * Motion-PNG frames whose per-channel color is a closed form of
    * (doc_id, frame) — base hue drifts a few counts per frame, and
    * frames where (doc_id + f) % 4 == 0 jump ~100 counts per channel (a
    * "shot change"). All color terms stay under 255 by construction, so
    * no modular wrap obscures the delta and the DuckDB oracle re-derives
    * every frame color, delta and cut flag with pure integer arithmetic. */
  def makeSceneAvi(docId: Long): Array[Byte] = {
    val w = (3 + docId % 5).toInt
    val h = (3 + docId % 4).toInt
    val nFrames = (4 + docId % 3).toInt
    def jump(f: Int): Int = if ((docId + f) % 4 == 0) 1 else 0
    val frames = (0 until nFrames).map { f =>
      val r = (20 + (11 * docId) % 100 + 5 * (f % 8) + 100 * jump(f)).toInt
      val g = (10 + (13 * docId) % 100 + 3 * (f % 8) + 110 * jump(f)).toInt
      val b = (5 + (17 * docId) % 100 + 7 * (f % 8) + 90 * jump(f)).toInt
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(uniformImage(w, h, r, g, b), "png", bos)
      bos.toByteArray
    }
    aviContainer(w, h, frames)
  }

  final case class SceneDelta(doc_id: Long, frame_idx: Long,
                              n_pixels: Long, d_r: Long, d_g: Long,
                              d_b: Long, is_cut: Int)

  /** Scene-cut detection over a demuxed video: the standard mean-frame-
    * difference heuristic (flag frame f a cut when the summed per-channel
    * absolute difference of frame means against frame f−1 exceeds
    * `threshold` counts/pixel). Fused demux → decode → delta in ONE
    * row-local pass: all frames of a video live in its row's payload, so
    * consecutive-frame state is a local variable — no window, no
    * self-join, no shuffle anywhere (the exact property that makes this
    * viable over billions of clips: cost is one linear decode per
    * payload). Deltas are emitted as exact integers on the SUM scale
    * (|Σc_f − Σc_{f−1}|, with is_cut compared against
    * threshold·n_pixels), so cross-engine float division never enters.
    * Sentinels: non-AVI payload → one frame_idx −1 row; a delta pair
    * with an undecodable side → −1 deltas and is_cut −1. */
  def videoSceneCuts(ds: Dataset[PayloadRow], threshold: Long)
      : Dataset[SceneDelta] = {
    require(threshold >= 0, s"threshold must be non-negative: $threshold")
    decoding(ds) { (dec, rows) =>
      rows.flatMap { r =>
        if (notAvi(r.payload))
          Iterator.single(SceneDelta(r.doc_id, -1L, -1L, -1L, -1L, -1L, -1))
        else {
          val sums = demuxed(r.payload, aviFrames).map { p =>
            val img = dec.decode(p)
            if (img == null) None
            else Some(rgbSums(img))
          }
          Iterator.range(1, sums.length).map { f =>
            (sums(f - 1), sums(f)) match {
              case (Some((w, h, pr, pg, pb)), Some((_, _, cr, cg, cb))) =>
                val np = w * h
                val (dr, dg, db) =
                  (math.abs(cr - pr), math.abs(cg - pg), math.abs(cb - pb))
                SceneDelta(r.doc_id, f.toLong, np, dr, dg, db,
                  if (dr + dg + db > threshold * np) 1 else 0)
              case _ =>
                SceneDelta(r.doc_id, f.toLong, -1L, -1L, -1L, -1L, -1)
            }
          }
        }
      }
    }
  }

  // ---- H.264 Annex-B elementary streams (structure, not pixels) ----

  final case class H264Meta(doc_id: Long, n_nals: Long, n_sps: Long,
                            n_pps: Long, n_idr: Long, n_slices: Long,
                            width: Long, height: Long)

  /** Exp-Golomb bit writer for RBSP payloads (ITU-T H.264 §9.1): ue(v)
    * = (leading zeros = bits(v+1) − 1) ++ binary(v+1). Emits the RBSP
    * stop bit + zero padding on `bytes`, and inserts EMULATION
    * PREVENTION (§7.4.1: 0x03 after any 0x0000 so payload bytes can
    * never fake a start code) on `nalBytes`. */
  private final class BitWriter {
    private var acc = 0L; private var nbits = 0
    private val out = IndexedSeq.newBuilder[Byte]
    def u(v: Long, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        acc = (acc << 1) | ((v >> i) & 1L); nbits += 1
        if (nbits == 8) { out += acc.toByte; acc = 0L; nbits = 0 }
        i -= 1
      }
    }
    def ue(v: Long): Unit = {
      val lz = 63 - java.lang.Long.numberOfLeadingZeros(v + 1)
      u(0L, lz); u(v + 1, lz + 1)
    }
    def bytes: Array[Byte] = {
      u(1L, 1) // rbsp_stop_one_bit
      while (nbits != 0) u(0L, 1)
      out.result().toArray
    }
    def nalBytes: Array[Byte] = {
      val raw = bytes
      val b = IndexedSeq.newBuilder[Byte]
      var zeros = 0
      raw.foreach { x =>
        if (zeros >= 2 && (x & 0xfc) == 0) { b += 0x03.toByte; zeros = 0 }
        if (x == 0) zeros += 1 else zeros = 0
        b += x
      }
      b.result().toArray
    }
  }

  /** Exp-Golomb bit reader over an emulation-stripped RBSP. */
  private final class BitReader(p: Array[Byte]) {
    private var bit = 0
    def u(n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) {
        val by = bit >> 3
        if (by >= p.length) return -1L
        v = (v << 1) | ((p(by) >> (7 - (bit & 7))) & 1L)
        bit += 1; i += 1
      }
      v
    }
    def ue(): Long = {
      var lz = 0
      var b = u(1)
      while (b == 0L && lz < 32) { lz += 1; b = u(1) }
      if (b < 0L || lz >= 32) return -1L
      ((1L << lz) | u(lz)) - 1L
    }
    def se(): Long = { // signed exp-Golomb: k -> (-1)^(k+1) * ceil(k/2)
      val k = ue()
      if (k < 0) k else if (k % 2 == 1) (k + 1) / 2 else -(k / 2)
    }
  }

  /** Strip H.264 emulation-prevention bytes (00 00 03 -> 00 00). */
  private def stripEmulation(p: Array[Byte]): Array[Byte] = {
    val b = IndexedSeq.newBuilder[Byte]
    var zeros = 0
    var i = 0
    while (i < p.length) {
      val x = p(i)
      if (zeros >= 2 && x == 0x03) zeros = 0 // drop the emulation byte
      else {
        b += x
        if (x == 0) zeros += 1 else zeros = 0
      }
      i += 1
    }
    b.result().toArray
  }

  /** Deterministic H.264 Annex-B fixture: SPS (baseline profile 66,
    * poc type 2, no cropping, frame_mbs_only) with mb dims from doc_id,
    * PPS, one IDR slice then nf−1 non-IDR slices — 4-byte start code
    * on the SPS, 3-byte on the rest (both real). Slice payload bytes
    * are all non-zero (a REAL encoder guarantees no start-code
    * collision via emulation prevention; the fixture does it by
    * construction). */
  def makeH264(docId: Long): Array[Byte] = {
    val wMbs = 4 + docId % 5
    val hMbs = 3 + docId % 4
    val nf = (2 + docId % 6).toInt
    val sps = {
      val w = new BitWriter
      w.u(66L, 8); w.u(0L, 8); w.u(30L, 8) // profile/constraints/level
      w.ue(0L)        // seq_parameter_set_id
      w.ue(0L)        // log2_max_frame_num_minus4
      w.ue(2L)        // pic_order_cnt_type
      w.ue(1L)        // max_num_ref_frames
      w.u(0L, 1)      // gaps_in_frame_num_value_allowed_flag
      w.ue(wMbs - 1)  // pic_width_in_mbs_minus1
      w.ue(hMbs - 1)  // pic_height_in_map_units_minus1
      w.u(1L, 1)      // frame_mbs_only_flag
      w.u(1L, 1)      // direct_8x8_inference_flag
      w.u(0L, 1)      // frame_cropping_flag
      w.u(0L, 1)      // vui_parameters_present_flag
      w.nalBytes
    }
    val o = new Writer
    def nal(refIdc: Int, typ: Int, rbsp: Array[Byte], long: Boolean): Unit =
      o.be(1, if (long) 4 else 3).be((refIdc << 5) | typ, 1).bytes(rbsp)
    nal(3, 7, sps, long = true)
    nal(3, 8, Array(0x40.toByte), long = false) // PPS (opaque rbsp)
    for (f <- 0 until nf) {
      val sz = (8 + (docId + f) % 24).toInt
      val body = Array.tabulate(sz)(j =>
        (1 + (docId + f + j) % 255).toByte) // never 0x00
      nal(if (f == 0) 3 else 2, if (f == 0) 5 else 1, body, long = false)
    }
    o.result
  }

  /** REAL H.264 Annex-B STRUCTURE metadata — the pure-byte walk a
    * training pipeline can run without a codec: start-code scan (00 00
    * 01 / 00 00 00 01) to NAL units, nal_unit_type = header & 0x1f,
    * slice/IDR/SPS/PPS counts, and the coded frame dimensions parsed
    * from the first SPS with a real exp-Golomb reader (emulation
    * prevention stripped; poc types 0/1/2; interlace doubling via
    * frame_mbs_only_flag; frame cropping subtracted in 4:2:0 units).
    * PIXEL decode stays environment-blocked (no JVM H.264 codec); the
    * structure walk retires the metadata half, as mp4Header did for
    * ISO-BMFF. Non-Annex-B bytes yield the −1 sentinel row. */
  def h264Meta(p: Array[Byte])
      : (Long, Long, Long, Long, Long, Long, Long) = {
    val bad = (-1L, -1L, -1L, -1L, -1L, -1L, -1L)
    // must OPEN with a start code (leading zeros then 00 00 01)
    val first = {
      var i = 0
      while (u8(p, i) == 0) i += 1
      if (i >= 2 && i <= 3 && u8(p, i) == 1) i + 1 else -1
    }
    if (first < 0) return bad
    // collect NAL payload ranges [start, end)
    val nals = IndexedSeq.newBuilder[(Int, Int)]
    var s = first
    var i = first
    while (i + 2 < p.length) {
      if (u24be(p, i) == 1L) {
        val e = if (i > s && u8(p, i - 1) == 0) i - 1 else i // 4-byte code
        if (e > s) nals += ((s, e))
        s = i + 3; i += 3
      } else i += 1
    }
    if (p.length > s) nals += ((s, p.length))
    val rs = nals.result()
    var nSps, nPps, nIdr, nSlices = 0L
    var width, height = -1L
    rs.foreach { case (b, e) =>
      (u8(p, b) & 0x1f).toInt match {
        case 7 =>
          nSps += 1
          if (width < 0) {
            val r = new BitReader(
              stripEmulation(p.slice(b + 1, e)))
            r.u(24) // profile_idc + constraints + level_idc
            r.ue()  // seq_parameter_set_id
            r.ue() match { // log2_max_frame_num_minus4 ... poc handling
              case -1L => ()
              case _ =>
                r.ue() match {
                  case 0L => r.ue(); ()
                  case 1L =>
                    r.u(1); r.se(); r.se()
                    val n = r.ue()
                    var j = 0L
                    while (j < n && j >= 0) { r.se(); j += 1 }
                  case _ => ()
                }
                r.ue()      // max_num_ref_frames
                r.u(1)      // gaps allowed
                val wm = r.ue()
                val hm = r.ue()
                val frameOnly = r.u(1)
                if (frameOnly == 0L) r.u(1) // mb_adaptive flag
                r.u(1)      // direct_8x8_inference_flag
                val crop = r.u(1)
                var (cl, cr, ct, cb) = (0L, 0L, 0L, 0L)
                if (crop == 1L) { cl = r.ue(); cr = r.ue()
                                  ct = r.ue(); cb = r.ue() }
                if (wm >= 0 && hm >= 0) {
                  width = 16 * (wm + 1) - 2 * (cl + cr) // 4:2:0 units
                  height = 16 * (hm + 1) * (2 - frameOnly) -
                    2 * (2 - frameOnly) * (ct + cb)
                }
            }
          }
        case 8 => nPps += 1
        case 5 => nIdr += 1; nSlices += 1
        case 1 => nSlices += 1
        case _ => ()
      }
    }
    (rs.length.toLong, nSps, nPps, nIdr, nSlices, width, height)
  }

  /** [[h264Meta]] over a payload Dataset (the metadata family's
    * elementary-stream member). */
  def h264Metas(ds: Dataset[PayloadRow]): Dataset[H264Meta] =
    perRow(ds) { r =>
      val (n, sp, pp, idr, sl, w, h) = h264Meta(r.payload)
      H264Meta(r.doc_id, n, sp, pp, idr, sl, w, h)
    }

  // ---- IVF containers (the VP8/VP9 transport; structure walk) ----

  final case class IvfMeta(doc_id: Long, codec: String, width: Long,
                           height: Long, n_frames_header: Long,
                           n_frames_walked: Long, frame_bytes: Long,
                           last_pts: Long)

  /** Deterministic IVF fixture: 32-byte header (DKIF, version 0,
    * fourcc VP90, LE dims, 30/1 timebase, frame count) + nf frames of
    * (u32 LE size, u64 LE pts, payload) with closed-form sizes. */
  def makeIvf(docId: Long): Array[Byte] = {
    val nf = (1 + docId % 6).toInt
    val o = new Writer().ascii("DKIF").le(0, 2).le(32, 2).ascii("VP90")
      .le(64 + 8 * (docId % 9), 2).le(48 + 8 * (docId % 7), 2)
      .le(30, 4).le(1, 4).le(nf, 4).le(0, 4)
    for (f <- 0 until nf) {
      val sz = 12 + (docId + f) % 33
      o.le(sz, 4).le(f, 8).zeros(sz) // pts as u64 LE
    }
    o.result
  }

  /** REAL IVF metadata — the container walk of VP8/VP9 elementary
    * streams (DKIF header: version, header length, fourcc, LE dims,
    * declared frame count; then length-prefixed frames with 64-bit
    * presentation timestamps). Walks every frame record bounds-checked
    * (truncation stops the walk — the declared vs walked counts
    * diverging IS the signal), sums payload bytes, and keeps the last
    * pts. Codec PAYLOAD decode stays environment-blocked; the
    * transport walk is the real, codec-free half. Non-IVF bytes yield
    * the sentinel row. */
  def ivfMeta(p: Array[Byte])
      : (String, Long, Long, Long, Long, Long, Long) = {
    val bad = ("unknown", -1L, -1L, -1L, -1L, -1L, -1L)
    if (p.length < 32 || tag(p, 0) != fourcc("DKIF")) return bad
    val hdrLen = u16le(p, 6)
    if (hdrLen < 32 || hdrLen > p.length) return bad
    val declared = u32le(p, 24)
    var i = hdrLen
    var walked = 0L; var bytes = 0L; var lastPts = -1L
    while (i + 12 <= p.length && walked < declared) {
      val sz = u32le(p, i)
      if (i + 12 + sz > p.length) i = p.length
      else {
        walked += 1; bytes += sz
        lastPts = u64le(p, i + 4)
        i += 12 + sz
      }
    }
    (ascii(p, 8, 12), u16le(p, 12), u16le(p, 14), declared, walked, bytes,
      lastPts)
  }

  /** [[ivfMeta]] over a payload Dataset. */
  def ivfMetas(ds: Dataset[PayloadRow]): Dataset[IvfMeta] =
    perRow(ds) { r =>
      val (c, w, h, nd, nw, b, pts) = ivfMeta(r.payload)
      IvfMeta(r.doc_id, c, w, h, nd, nw, b, pts)
    }

  final case class OggMeta(doc_id: Long, n_pages: Long, n_streams: Long,
    n_bos: Long, n_eos: Long, n_packets: Long, payload_bytes: Long,
    last_granule: Long)

  /** Deterministic spec-shaped Ogg container (RFC 3533 page layout):
    * one logical stream of 1 + id%5 pages — BOS flag on the first,
    * EOS on the last (both when the stream is one page), granule
    * (f+1)·441, 1 + (id+f)%3 lacing values per page where value j is
    * 255 (packet-continuation) when (id+f+j)%4 = 0 else (id+f+j)%200 —
    * so the 255-terminator grammar is genuinely exercised — plus, for
    * id%7 = 0, a second single-page BOS|EOS stream at granule 777
    * (the multiplexed-stream arm). CRC is written as zero: the walk
    * reports structure and the walker does not validate checksums
    * (the makeZip closed-form-CRC convention). */
  def makeOgg(docId: Long): Array[Byte] = {
    val o = new Writer
    def page(serial: Long, seq: Long, hdrType: Int, granule: Long,
        laces: Seq[Int]): Unit = {
      // version 0, then the CRC written as 0 (unvalidated by the walker)
      o.ascii("OggS").le(0, 1).le(hdrType, 1).le(granule, 8).le(serial, 4)
        .le(seq, 4).le(0, 4).le(laces.length, 1)
      laces.foreach(o.le(_, 1))
      o.zeros(laces.sum)
    }
    val np = (1 + docId % 5).toInt
    for (f <- 0 until np) {
      val hdr = (if (f == 0) 0x02 else 0) | (if (f == np - 1) 0x04 else 0)
      val ns = (1 + (docId + f) % 3).toInt
      val laces = (0 until ns).map { j =>
        if ((docId + f + j) % 4 == 0) 255 else ((docId + f + j) % 200).toInt
      }
      page(docId % 100000, f.toLong, hdr, (f + 1) * 441L, laces)
    }
    if (docId % 7 == 0)
      page(docId % 100000 + 1, 0L, 0x06, 777L,
        Seq(((docId % 200)).toInt))
    o.result
  }

  /** REAL Ogg metadata — the page walk of RFC 3533 multiplexed
    * streams (the transport under Vorbis/Opus/Theora): capture
    * pattern, header-type flag census (BOS/EOS), distinct bitstream
    * serials, completed packets (lacing values < 255 terminate a
    * packet — 255 means continuation), payload byte total from the
    * segment tables, and the last page's granule position. Every page
    * is bounds-checked; truncation stops the walk (the ivfMeta
    * discipline). Codec payload decode stays environment-blocked;
    * non-Ogg bytes yield the sentinel row. */
  def oggMeta(p: Array[Byte])
      : (Long, Long, Long, Long, Long, Long, Long) = {
    val bad = (-1L, -1L, -1L, -1L, -1L, -1L, -1L)
    if (p.length < 27 || tag(p, 0) != fourcc("OggS")) return bad
    var i = 0L
    var pages = 0L; var bos = 0L; var eos = 0L
    var packets = 0L; var bytes = 0L; var lastGranule = -1L
    val serials = scala.collection.mutable.HashSet.empty[Long]
    while (i + 27 <= p.length && tag(p, i) == fourcc("OggS")) {
      val hdrType = u8(p, i + 5)
      val nSegs = u8(p, i + 26)
      if (i + 27 + nSegs > p.length) { i = p.length }
      else {
        var body = 0L
        var pagePackets = 0L
        var k = 0L
        while (k < nSegs) {
          val lace = u8(p, i + 27 + k)
          body += lace
          if (lace < 255) pagePackets += 1
          k += 1
        }
        // a truncated body rejects the WHOLE page — its packet and
        // byte counts must not leak into the totals
        if (i + 27 + nSegs + body > p.length) { i = p.length }
        else {
          pages += 1
          if ((hdrType & 0x02) != 0) bos += 1
          if ((hdrType & 0x04) != 0) eos += 1
          serials += u32le(p, i + 14)
          packets += pagePackets
          bytes += body
          lastGranule = u64le(p, i + 6)
          i += 27 + nSegs + body
        }
      }
    }
    if (pages == 0) bad
    else (pages, serials.size.toLong, bos, eos, packets, bytes,
      lastGranule)
  }

  /** [[oggMeta]] over a payload Dataset. */
  def oggMetas(ds: Dataset[PayloadRow]): Dataset[OggMeta] =
    perRow(ds) { r =>
      val (np, nst, nb, ne, npk, b, g) = oggMeta(r.payload)
      OggMeta(r.doc_id, np, nst, nb, ne, npk, b, g)
    }
}
