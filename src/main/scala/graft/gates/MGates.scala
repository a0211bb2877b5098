package graft
package gates

import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.multimodal.Binary
import Shared.{gateModelDir, modelGlob, t}

/** Multimodal gates: real header parsing and decode of image, audio,
  * video and archive payloads. */
object MGates extends Family {
  /** Image metadata: PNG/JPEG/GIF header blobs synthesized per doc (format
    * and dimensions derived from doc_id), parsed back by the REAL header
    * parser (Binary.imageHeader) — the oracle recomputes every field
    * arithmetically, so a parse bug breaks the hash (the image analog of
    * m02's makeWav → wavHeader loop). */
  gate("m01_binary_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.imageHeaders(
        src.map(id => Binary.PayloadRow(id, Binary.makeImage(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      """SELECT doc_id,
         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
           ELSE 'gif' END AS format,
         CAST(1 + doc_id % 640 AS BIGINT) AS width,
         CAST(1 + doc_id * 7 % 480 AS BIGINT) AS height
         FROM documents ORDER BY doc_id""")

  /** Audio metadata: WAV blobs synthesized per doc (params derived from
    * doc_id/n_chars), parsed back by the REAL RIFF chunk walker — the
    * oracle recomputes every field arithmetically, so a parse bug breaks
    * the hash. */
  gate("m02_audio_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents")
      .select(col("doc_id"), col("n_chars").cast("long").as("n"))
      .as[(Long, Long)]
    Binary.audioHeaders(
        src.map { case (id, n) => Binary.PayloadRow(id, Binary.makeWav(id, n)) })
      .toDF()
      .orderBy("doc_id")
  }(
      """SELECT doc_id, 'wav' AS format,
         CAST(1 + doc_id % 2 AS BIGINT) AS channels,
         CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
         CAST(16 AS BIGINT) AS bits,
         CAST(n_chars AS BIGINT) AS n_samples,
         CAST(n_chars * 1000 // (8000 * (1 + doc_id % 3)) AS BIGINT)
           AS duration_ms
         FROM documents ORDER BY doc_id""")

  /** REAL MP4 metadata: per-doc header-only ISO-BMFF containers
    * (Binary.makeMp4 — every field a closed form of doc_id, v0 and v1
    * box layouts alternating by parity) walked by the pure-byte box
    * parser (Binary.mp4Header via videoHeaders): ftyp brand, mvhd
    * timescale/duration, trak count, first track's fixed-point
    * dimensions. The oracle recomputes every field arithmetically — a
    * box-walk bug (offset, version layout, largesize, fixed-point
    * shift) breaks the hash. Retires the MP4 stub's metadata half;
    * only frame DECODE remains env-blocked (no JVM codec). */
  gate("m06_mp4_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.videoHeaders(
        src.map(id => Binary.PayloadRow(id, Binary.makeMp4(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      """SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'isom' WHEN 1 THEN 'mp42'
           ELSE 'avc1' END AS brand,
         CAST(600 * (1 + doc_id % 4) AS BIGINT) AS timescale,
         CAST(((1 + doc_id % 30) * (600 * (1 + doc_id % 4)) + doc_id % 7)
           * 1000 // (600 * (1 + doc_id % 4)) AS BIGINT) AS duration_ms,
         CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
         CAST(320 + (doc_id % 5) * 16 AS BIGINT) AS width,
         CAST(240 + (doc_id % 4) * 16 AS BIGINT) AS height
         FROM documents ORDER BY doc_id""")

  /** REAL Matroska/WebM metadata: per-doc header-only EBML containers
    * (Binary.makeMkv — every field a closed form of doc_id; webm
    * 4-byte-float vs matroska 8-byte-float Duration by parity,
    * unknown-size Segments for id%5==0, non-minimal size VINTs for
    * id%3==0) walked by the pure-byte EBML parser (Binary.mkvHeader
    * via mkvHeaders): DocType, TimestampScale, Duration → ms, track
    * count, first video track's pixel dims. The oracle recomputes
    * every field arithmetically — a VINT-length, float-width,
    * unknown-size, or first-video-track bug breaks the hash. Retires
    * the Matroska stub's metadata half; only frame DECODE remains
    * env-blocked (no JVM codec). */
  gate("m07_mkv_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.mkvHeaders(
        src.map(id => Binary.PayloadRow(id, Binary.makeMkv(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      """SELECT doc_id,
         CASE doc_id % 2 WHEN 0 THEN 'matroska' ELSE 'webm' END
           AS doc_type,
         CAST(1000000 * (1 + doc_id % 3) AS BIGINT) AS timescale_ns,
         CAST(((1 + doc_id % 30) * 1000 + doc_id % 7) * (1 + doc_id % 3)
           AS BIGINT) AS duration_ms,
         CAST(1 + doc_id % 3 AS BIGINT) AS n_tracks,
         CAST(160 + (doc_id % 6) * 32 AS BIGINT) AS width,
         CAST(120 + (doc_id % 5) * 24 AS BIGINT) AS height
         FROM documents ORDER BY doc_id""")

  // Binary's synthetic-payload dimension constants (makeWebp /
  // makeRealPng closed forms), interpolated instead of duplicated as
  // SQL literals — the shared-constant discipline (ADVICE r12).
  private def wb = graft.multimodal.Binary.WebpDimBase
  private def wwm = graft.multimodal.Binary.WebpWMod
  private def whm = graft.multimodal.Binary.WebpHMod

  /** REAL WebP metadata: per-doc header-only RIFF/WEBP containers
    * (Binary.makeWebp — variant cycles VP8X/VP8L/VP8 by doc_id % 3,
    * every field a closed form of doc_id) walked by the pure-byte RIFF
    * parser (Binary.webpHeader): 24-bit-LE minus-one canvas dims,
    * LE-bit-packed lossless dims + alpha bit, lossy sync-code frame
    * dims. The oracle recomputes every field arithmetically — a chunk
    * walk, bit-unpack, or variant-dispatch bug breaks the hash.
    * Completes the RIFF family (WAV m02, AVI m05) on the image side. */
  gate("m11_webp_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.webpHeaders(
        src.map(id => Binary.PayloadRow(id, Binary.makeWebp(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // dims interpolated from Binary's makeWebp constants — one side
      // to tweak, a drift shows as a compile error not a hash mismatch
      s"""SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 'vp8x' WHEN 1 THEN 'vp8l'
           ELSE 'vp8' END AS variant,
         CAST(${wb} + doc_id % ${wwm} AS BIGINT) AS width,
         CAST(${wb} + doc_id % ${whm} AS BIGINT) AS height,
         CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 1 - doc_id % 2 END
           AS BIGINT) AS has_alpha
         FROM documents ORDER BY doc_id""")

  /** REAL TIFF/EXIF-class metadata: per-doc header-only TIFF containers
    * (Binary.makeTiff — even ids little-endian `II`, odd big-endian
    * `MM`, so BOTH integer layouts run on every batch; every field a
    * closed form of doc_id; ids %3==0 chain a second page IFD) walked
    * by the pure-byte IFD parser (Binary.tiffHeader via tiffHeaders):
    * byte order, ImageWidth (LONG type 4), ImageLength + Orientation
    * (SHORT type 3, left-justified inline values — the EXIF rotation
    * tag every image pipeline must honor before pixel ops), and the
    * chained page count with first-IFD-wins dims (m06's first-track
    * discipline). The oracle recomputes every field arithmetically —
    * an endianness, inline-value-layout, or IFD-chain bug breaks the
    * hash. Completes the still-image metadata family (PNG/GIF/JPEG
    * m01, WebP m11) with the container the scan/EXIF world ships. */
  gate("m15_tiff_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.tiffHeaders(
        src.map(id => Binary.PayloadRow(id, Binary.makeTiff(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // Regenerates makeTiff's closed-form IFD fields — byte order by id
      // parity, LONG width / SHORT height+orientation, two-page chain for
      // ids %3==0; an endianness or IFD-walk bug on the Spark side breaks
      // the hash.
      """SELECT doc_id,
         CASE doc_id % 2 WHEN 0 THEN 'II' ELSE 'MM' END AS byte_order,
         CAST(100 + doc_id % 50 AS BIGINT) AS width,
         CAST(80 + doc_id % 40 AS BIGINT) AS height,
         CAST(1 + doc_id % 8 AS BIGINT) AS orientation,
         CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
           AS n_pages
         FROM documents ORDER BY doc_id""")

  /** REAL FLAC metadata: per-doc header-only FLAC containers
    * (Binary.makeFlac — every field a closed form of doc_id; ids %5==0
    * carry a >2^32 total-sample count forcing the 36-bit read; ids %3
    * chain PADDING blocks behind STREAMINFO) walked by the pure-byte
    * METADATA_BLOCK parser (Binary.flacHeader via flacHeaders): sample
    * rate (20-bit), channels (3-bit, −1-coded), bit depth (5-bit,
    * −1-coded), total samples (36-bit), integer-division duration, and
    * the last-flag-terminated block count. The oracle recomputes every
    * field arithmetically — a bit-offset, −1-coding, or block-walk bug
    * breaks the hash. Completes the audio metadata family (WAV m02)
    * with the lossless-archive container. */
  gate("m16_flac_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.flacHeaders(
        src.map(id => Binary.PayloadRow(id, Binary.makeFlac(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // Regenerates makeFlac's closed-form STREAMINFO fields — the 36-bit
      // total (past u32 for ids %5==0) and the integer-division duration
      // are the hash-sensitive parts; DuckDB's // floor-division matches
      // Spark's Long / on these all-positive values.
      """SELECT doc_id,
         CAST(8000 * (1 + doc_id % 6) AS BIGINT) AS sample_rate,
         CAST(1 + doc_id % 8 AS BIGINT) AS channels,
         CAST(8 + (doc_id % 4) * 4 AS BIGINT) AS bits,
         CAST(10000 + doc_id % 9973
           + CASE WHEN doc_id % 5 = 0 THEN 8589934592 ELSE 0 END
           AS BIGINT) AS total_samples,
         CAST((10000 + doc_id % 9973
           + CASE WHEN doc_id % 5 = 0 THEN 8589934592 ELSE 0 END) * 1000
           // (8000 * (1 + doc_id % 6)) AS BIGINT) AS duration_ms,
         CAST(1 + doc_id % 3 AS BIGINT) AS n_blocks
         FROM documents ORDER BY doc_id""")

  /** REAL MP3 metadata: per-doc MPEG-1 Layer III streams
    * (Binary.makeMp3 — every field a closed form of doc_id; all 14
    * bitrate rows, all 3 sample rates, all 4 channel modes and both
    * padding hop lengths cycle through the corpus; the ID3v2 tag's
    * payload is 0xFF-laced so only a correct SYNCSAFE size decode
    * lands the walk on the first real frame) walked by the pure-byte
    * frame hopper (Binary.mp3Header via mp3Headers): bitrate/rate
    * table lookups, integer frame-length hops, first-frame-wins
    * fields, frame count, integer-division duration. The oracle
    * recomputes every field arithmetically — a table, bit-offset,
    * syncsafe or hop-length bug breaks the hash. Completes the audio
    * metadata family (WAV m02, FLAC m16) with the lossy-archive
    * container. */
  gate("m17_mp3_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.mp3Headers(
        src.map(id => Binary.PayloadRow(id, Binary.makeMp3(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // Regenerates makeMp3's closed-form fields — the bitrate/rate
      // table lookups and the truncating duration division are the
      // hash-sensitive parts.
      """SELECT doc_id,
         list_extract([32,40,48,56,64,80,96,112,128,160,192,224,256,320],
           CAST(1 + doc_id % 14 AS INT)) AS bitrate_kbps,
         list_extract([44100,48000,32000],
           CAST(1 + doc_id % 3 AS INT)) AS sample_rate,
         CAST(CASE WHEN doc_id % 4 = 3 THEN 1 ELSE 2 END AS BIGINT)
           AS channels,
         CAST(5 + doc_id % 20 AS BIGINT) AS n_frames,
         CAST((5 + doc_id % 20) * 1152 * 1000
           // list_extract([44100,48000,32000],
             CAST(1 + doc_id % 3 AS INT)) AS BIGINT) AS duration_ms,
         CAST(20 + doc_id % 200 AS BIGINT) AS id3_size
         FROM documents ORDER BY doc_id""")

  /** REAL ZIP archive listing: per-doc spec-shaped archives
    * (Binary.makeZip — 1 + id%5 members with closed-form methods,
    * sizes and CRCs; trailing comments laced with `P` bytes so only a
    * true backward EOCD scan lands) walked by the pure-byte
    * central-directory parser (Binary.zipListing via zipListings):
    * entry count, compressed/uncompressed byte totals, deflated-member
    * count, CRC-32 checksum sum — the list-without-decompressing
    * primitive corpus ingest runs over archive shards. The oracle
    * recomputes every total arithmetically — an EOCD-scan, stride, or
    * field-offset bug breaks the hash. */
  gate("m18_zip_listing") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.zipListings(
        src.map(id => Binary.PayloadRow(id, Binary.makeZip(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // Regenerates makeZip's closed-form central-directory totals.
      """WITH d AS (SELECT doc_id, 1 + doc_id % 5 AS k FROM documents)
         SELECT doc_id,
         CAST(k AS BIGINT) AS n_entries,
         CAST(list_sum(list_transform(range(k), j ->
           10 + (doc_id + j) % 50)) AS BIGINT) AS total_comp,
         CAST(list_sum(list_transform(range(k), j ->
           10 + (doc_id + j) % 50 + (doc_id + j) % 7)) AS BIGINT)
           AS total_uncomp,
         CAST(list_sum(list_transform(range(k), j ->
           (doc_id + j) % 2)) AS BIGINT) AS n_deflated,
         CAST(list_sum(list_transform(range(k), j ->
           (doc_id * 31 + j) % 4294967296)) AS BIGINT) AS crc_sum
         FROM d ORDER BY doc_id""")

  /** REAL H.264 Annex-B STRUCTURE metadata (Binary.h264Meta): NAL
    * start-code walk + exp-Golomb SPS parse (emulation prevention
    * stripped) over deterministic baseline-profile fixtures — NAL/SPS/
    * PPS/IDR/slice counts and the coded dimensions, all closed forms
    * of doc_id the oracle recomputes arithmetically. The pixel half of
    * H.264 stays environment-blocked (no JVM codec); this retires the
    * STRUCTURE half, as mp4Header did for ISO-BMFF. */
  gate("m19_h264_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.h264Metas(
        src.map(id => Binary.PayloadRow(id, Binary.makeH264(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // m19: makeH264's closed forms — NAL census and the SPS-coded
      // dimensions (16 x mb counts; no cropping, frame_mbs_only).
      """SELECT doc_id,
         CAST(4 + doc_id % 6 AS BIGINT) AS n_nals,
         CAST(1 AS BIGINT) AS n_sps,
         CAST(1 AS BIGINT) AS n_pps,
         CAST(1 AS BIGINT) AS n_idr,
         CAST(2 + doc_id % 6 AS BIGINT) AS n_slices,
         CAST(16 * (4 + doc_id % 5) AS BIGINT) AS width,
         CAST(16 * (3 + doc_id % 4) AS BIGINT) AS height
         FROM documents ORDER BY doc_id""")

  /** REAL IVF (VP8/VP9 transport) metadata (Binary.ivfMeta): DKIF
    * header + bounds-checked length-prefixed frame walk — codec
    * fourcc, dims, declared vs walked frame counts, payload byte
    * total, last 64-bit pts; every column a closed form of doc_id. */
  gate("m20_ivf_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.ivfMetas(
        src.map(id => Binary.PayloadRow(id, Binary.makeIvf(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // m20: makeIvf's closed forms — header fields, the walked frame
      // census and the summed payload bytes.
      """WITH d AS (SELECT doc_id, 1 + doc_id % 6 AS nf FROM documents)
         SELECT doc_id, 'VP90' AS codec,
         CAST(64 + 8 * (doc_id % 9) AS BIGINT) AS width,
         CAST(48 + 8 * (doc_id % 7) AS BIGINT) AS height,
         CAST(nf AS BIGINT) AS n_frames_header,
         CAST(nf AS BIGINT) AS n_frames_walked,
         CAST(list_sum(list_transform(range(nf), f ->
           12 + (doc_id + f) % 33)) AS BIGINT) AS frame_bytes,
         CAST(nf - 1 AS BIGINT) AS last_pts
         FROM d ORDER BY doc_id""")

  /** REAL Ogg (RFC 3533) page-walk metadata (Binary.oggMeta): page
    * census with BOS/EOS flags, distinct bitstream serials (the
    * multiplexed-stream arm planted for id%7 = 0), completed packets
    * via the lacing-value grammar (255 = continuation — genuinely
    * exercised by the fixture), payload byte totals and the last
    * granule position; every column a closed form of doc_id the
    * oracle recomputes arithmetically. Codec payload decode stays
    * environment-blocked (the ivfMeta discipline). */
  gate("m21_ogg_meta") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.oggMetas(
        src.map(id => Binary.PayloadRow(id, Binary.makeOgg(id))))
      .toDF()
      .orderBy("doc_id")
  }(
      // m21: the Ogg fixture's closed forms re-derived — page/stream/
      // flag censuses, the packet count over the same lacing grammar
      // (255 = continuation), payload byte totals and last granule.
      """WITH d AS (SELECT doc_id, 1 + doc_id % 5 AS np,
           CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS extra
           FROM documents),
         m AS (SELECT doc_id, np, extra,
           CAST(list_sum(list_transform(range(np), f ->
             list_sum(list_transform(range(1 + (doc_id + f) % 3), j ->
               CASE WHEN (doc_id + f + j) % 4 = 0 THEN 255
                    ELSE (doc_id + f + j) % 200 END)))) AS BIGINT)
             AS body,
           CAST(list_sum(list_transform(range(np), f ->
             list_sum(list_transform(range(1 + (doc_id + f) % 3), j ->
               CASE WHEN (doc_id + f + j) % 4 = 0 THEN 0
                    ELSE 1 END)))) AS BIGINT) AS pk
           FROM d)
         SELECT doc_id,
           CAST(np + extra AS BIGINT) AS n_pages,
           CAST(1 + extra AS BIGINT) AS n_streams,
           CAST(1 + extra AS BIGINT) AS n_bos,
           CAST(1 + extra AS BIGINT) AS n_eos,
           CAST(pk + extra AS BIGINT) AS n_packets,
           CAST(body + extra * (doc_id % 200) AS BIGINT)
             AS payload_bytes,
           CAST(CASE WHEN extra = 1 THEN 777 ELSE np * 441 END
             AS BIGINT) AS last_granule
         FROM m ORDER BY doc_id""")

  /** Image near-dup detection by perceptual hash (Binary.aHashes +
    * Dedup.hammingNearDups): every doc gets a deterministic noise PNG;
    * docs with doc_id % 25 == 0 also plant a monotone brightness/contrast
    * re-encode under id+1000000 — the transformed-asset duplicate a byte
    * hash (m01/d01) can never see. aHash runs at the codec boundary
    * (pixelStats' mapPartitions discipline), pairing is d03's pigeonhole
    * band join over the 64-bit signatures — the m-family's decode meets
    * the d-family's blocking in one operator. BinarySpec pins
    * planted-pair recall, pair soundness
    * (recomputed hamming <= maxDist), and that noise images of distinct
    * docs never collide.
    *
    * FULL SQL oracle via the exported-model route (r13): the aHash
    * signature frame persists as the perceptual-hash "model" (the hash
    * function's value at each payload — d03's token-dictionary status;
    * exactness pinned by BinarySpec's independent reference decode),
    * and DuckDB re-derives the pigeonhole chunks, the candidate join
    * and every hamming. Loading the saved frame also decodes each image
    * ONCE instead of once per chunk-join side. */
  gate("m08_phash_neardup") { (s, dir) =>
    import s.implicits._
    val ids = t(s, dir, "documents").select(col("doc_id")).as[Long]
    val payloads = ids.flatMap { id =>
      val base = Binary.PayloadRow(id, Binary.makeNoisePng(id))
      if (id % 25 == 0)
        Seq(base, Binary.PayloadRow(id + 1000000L,
          Binary.makeNoisePng(id, variant = 1)))
      else Seq(base)
    }
    val base = gateModelDir(dir, "m08")
    graft.sim.ModelStore.save(Binary.aHashes(payloads).toDF().coalesce(1),
      "hash_sigs", s"$base/hash_sigs")
    graft.dedup.Dedup.hammingNearDups(
        graft.sim.ModelStore.load(s, "hash_sigs", s"$base/hash_sigs"),
        maxDist = 3)
      .orderBy("id_a", "id_b")
  }(
      // m08: pigeonhole pairing over the exported aHash signature frame —
      // d03's chunk/hamming tail, the hash values themselves being the
      // model (BinarySpec pins them against a reference decode).
      s"""WITH sg AS (SELECT id, sig FROM read_parquet(
             ${modelGlob("m08", "hash_sigs")})),
         ch AS (SELECT id, sig, c.j AS chunk_idx,
               (sig >> (16 * c.j)) & 65535 AS chunk
             FROM sg, unnest(generate_series(0, 3)) AS c(j)),
         p AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
               CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS dist
             FROM ch a JOIN ch b
               ON a.chunk_idx = b.chunk_idx AND a.chunk = b.chunk
             WHERE a.id < b.id)
         SELECT id_a, id_b, dist FROM p WHERE dist <= 3
         ORDER BY id_a, id_b""")

  /** REAL audio decode + feature extraction (Binary.makeWavPcm →
    * Binary.pcmStats): per-doc WAVs with MATERIALIZED closed-form 16-bit
    * PCM — sample i = ((doc_id·7919 + i·104729) mod 65536) − 32768,
    * 64 + doc_id mod 193 samples — decoded back by the real RIFF walk +
    * sample loop into the speech-pipeline summary features: peak, zero
    * crossings, DC offset, RMS energy. The decoder folds exact INTEGER
    * Σv / Σv² moments; only this projection divides and rounds, so the
    * DuckDB oracle (which regenerates the waveform arithmetically and
    * aggregates the same integers) matches bit-for-bit. Retires the
    * audio family's decode stub the way m03 retired the image one:
    * m02 proves the header walk, m09 proves the samples. */
  gate("m09_audio_stats") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.audioStatsOf(
        src.map(id => Binary.PayloadRow(id,
          Binary.makeWavPcm(id, (64 + id % 193).toInt))))
      .toDF()
      .select(col("doc_id"), col("n_samples"), col("peak"), col("zcr"),
        round(col("sum_amp").cast("double") / col("n_samples"), 6).as("dc"),
        round(sqrt(col("sum_sq").cast("double") / col("n_samples")), 6)
          .as("rms"))
      .orderBy("doc_id")
  }(
      // Regenerates m09's closed-form PCM waveform sample by sample and
      // aggregates the same integer moments the Spark-side decoder folds —
      // a byte-level decode bug (endianness, chunk offset, sign extension)
      // breaks the hash.
      """WITH d AS (SELECT doc_id, 64 + doc_id % 193 AS n FROM documents),
         s AS (SELECT doc_id, n, i,
               (doc_id * 7919 + i * 104729) % 65536 - 32768 AS v
               FROM d, unnest(generate_series(0, CAST(n - 1 AS BIGINT)))
                 AS u(i)),
         w AS (SELECT doc_id, n, v,
               CASE WHEN lag(v) OVER (PARTITION BY doc_id ORDER BY i)
                      IS NOT NULL
                 AND (v < 0) != (lag(v) OVER (PARTITION BY doc_id
                                              ORDER BY i) < 0)
                 THEN 1 ELSE 0 END AS zc
               FROM s)
         SELECT doc_id, CAST(MAX(n) AS BIGINT) AS n_samples,
           CAST(MAX(abs(v)) AS BIGINT) AS peak,
           CAST(SUM(zc) AS BIGINT) AS zcr,
           round(CAST(SUM(v) AS DOUBLE) / MAX(n), 6) AS dc,
           round(sqrt(CAST(SUM(v * v) AS DOUBLE) / MAX(n)), 6) AS rms
         FROM w GROUP BY doc_id ORDER BY doc_id""")

  private def pb = graft.multimodal.Binary.PngDimBase
  private def pwm = graft.multimodal.Binary.PngWMod
  private def phm = graft.multimodal.Binary.PngHMod

  /** REAL pixel decode: per-doc fully-decodable PNGs (pixel pattern a
    * closed form of doc_id — Binary.makeRealPng) decoded by javax.imageio
    * in Binary.pixelStats; channel means derived from the exact long sums.
    * The oracle recomputes width/height/means ARITHMETICALLY from doc_id
    * over a generated (x, y) grid — PNG is lossless, so a decode bug (or a
    * channel-order swap) breaks the hash. */
  gate("m03_pixel_stats") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.pixelStats(
        src.map(id => Binary.PayloadRow(id, Binary.makeRealPng(id))))
      .toDF()
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        round(col("sum_r").cast("double") / col("n_pixels"), 6).as("mean_r"),
        round(col("sum_g").cast("double") / col("n_pixels"), 6).as("mean_g"),
        round(col("sum_b").cast("double") / col("n_pixels"), 6).as("mean_b"))
      .orderBy("doc_id")
  }(
      s"""WITH d AS (SELECT doc_id,
             CAST(${pb} + doc_id % ${pwm} AS BIGINT) AS w,
             CAST(${pb} + doc_id % ${phm} AS BIGINT) AS h
           FROM documents),
         px AS (SELECT doc_id, w, h, xs.x AS x, ys.y AS y
                FROM d,
                  unnest(generate_series(0, w - 1)) AS xs(x),
                  unnest(generate_series(0, h - 1)) AS ys(y))
         SELECT doc_id, w AS width, h AS height, w * h AS n_pixels,
           round(CAST(SUM((doc_id + x + y) % 256) AS DOUBLE) / (w * h), 6)
             AS mean_r,
           round(CAST(SUM((doc_id + 2 * x + y) % 256) AS DOUBLE) / (w * h), 6)
             AS mean_g,
           round(CAST(SUM((doc_id + x + 2 * y) % 256) AS DOUBLE) / (w * h), 6)
             AS mean_b
         FROM px GROUP BY doc_id, w, h ORDER BY doc_id""")

  /** REAL per-channel color histograms over decoded pixels
    * (Binary.colorHistograms): m03's lossless PNG round trip feeding 16
    * equi-width bins per channel — integer counts, all 16 bins emitted
    * per doc, so the DuckDB oracle recomputes every bin exactly from
    * the closed-form pixel pattern. A binning, decode, or channel-order
    * bug breaks the hash. */
  gate("m12_color_histogram") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.colorHistograms(
        src.map(id => Binary.PayloadRow(id, Binary.makeRealPng(id))))
      .toDF()
      .orderBy("doc_id", "bin")
  }(
      // m12: every bin count recomputed from the closed-form pixel
      // pattern; all 16 bins per doc (zeros included) so the joins are
      // presence-unambiguous.
      s"""WITH d AS (SELECT doc_id,
             CAST(${pb} + doc_id % ${pwm} AS BIGINT) AS w,
             CAST(${pb} + doc_id % ${phm} AS BIGINT) AS h
           FROM documents),
         px AS (SELECT doc_id,
                  (doc_id + x + y) % 256 AS r,
                  (doc_id + 2 * x + y) % 256 AS g,
                  (doc_id + x + 2 * y) % 256 AS b
                FROM d,
                  unnest(generate_series(0, w - 1)) AS xs(x),
                  unnest(generate_series(0, h - 1)) AS ys(y)),
         bins AS (SELECT doc_id, CAST(bb AS BIGINT) AS bin
                  FROM d, unnest(generate_series(0, 15)) AS u(bb)),
         hr AS (SELECT doc_id, r // 16 AS bin,
                  CAST(COUNT(*) AS BIGINT) AS n FROM px GROUP BY 1, 2),
         hg AS (SELECT doc_id, g // 16 AS bin,
                  CAST(COUNT(*) AS BIGINT) AS n FROM px GROUP BY 1, 2),
         hb AS (SELECT doc_id, b // 16 AS bin,
                  CAST(COUNT(*) AS BIGINT) AS n FROM px GROUP BY 1, 2)
         SELECT bins.doc_id, bins.bin,
           COALESCE(hr.n, CAST(0 AS BIGINT)) AS n_r,
           COALESCE(hg.n, CAST(0 AS BIGINT)) AS n_g,
           COALESCE(hb.n, CAST(0 AS BIGINT)) AS n_b
         FROM bins
           LEFT JOIN hr USING (doc_id, bin)
           LEFT JOIN hg USING (doc_id, bin)
           LEFT JOIN hb USING (doc_id, bin)
         ORDER BY doc_id, bin""")

  /** REAL multi-frame sampling: per-doc animated GIFs (frame pixels a
    * closed form of (doc_id, frame) — Binary.makeRealGif) demuxed by
    * javax.imageio's multi-image reader and decoded to exact channel
    * sums in ONE fused pass (Binary.frameStatsFused, every 2nd frame —
    * no per-frame PNG re-encode/re-decode; BinarySpec pins it against
    * a sample-then-decode reference). GIF
    * stores the gray palette verbatim, so decode is lossless and the
    * oracle recomputes frame set, dimensions, and mean arithmetically
    * from doc_id — a demux bug (wrong frame count, frame/offset mixup,
    * colorspace shift) breaks the hash. */
  gate("m04_frame_sample") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.frameStatsFused(
        src.map(id => Binary.PayloadRow(id, Binary.makeRealGif(id))),
        stride = 2)
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("n_pixels"),
        round(col("sum_r").cast("double") / col("n_pixels"), 6)
          .as("mean_px"))
      .orderBy("doc_id", "frame_idx")
  }(
      """WITH d AS (SELECT doc_id,
             CAST(6 + doc_id % 5 AS BIGINT) AS w,
             CAST(6 + doc_id % 3 AS BIGINT) AS h,
             CAST(2 + doc_id % 4 AS BIGINT) AS nf
           FROM documents),
         fr AS (SELECT doc_id, w, h, fs.f AS f
                FROM d, unnest(generate_series(0, nf - 1)) AS fs(f)
                WHERE f % 2 = 0),
         px AS (SELECT doc_id, w, h, f, xs.x AS x, ys.y AS y
                FROM fr,
                  unnest(generate_series(0, w - 1)) AS xs(x),
                  unnest(generate_series(0, h - 1)) AS ys(y))
         SELECT doc_id, f AS frame_idx, w AS width, h AS height,
           w * h AS n_pixels,
           round(CAST(SUM((doc_id + 11 * f + x + y) % 256) AS DOUBLE)
             / (w * h), 6) AS mean_px
         FROM px GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")

  /** Scene-cut detection (Binary.videoSceneCuts) over synthesized
    * multi-shot AVIs: real demux + decode, consecutive-frame mean deltas
    * computed row-locally (zero shuffles — all frames of a clip live in
    * one payload), cut flagged at >64 counts/pixel summed over channels.
    * Deltas stay on the exact integer SUM scale, so the DuckDB oracle
    * re-derives every frame color, delta and flag arithmetically. */
  gate("m10_scene_cuts") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.videoSceneCuts(
        src.map(id => Binary.PayloadRow(id, Binary.makeSceneAvi(id))),
        threshold = 64L)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }(
      // Scene-cut frames: solid-color closed-form frames (no modular wrap
      // by construction), deltas on the exact integer SUM scale — pure
      // integer arithmetic end to end.
      """WITH d AS (SELECT doc_id,
             CAST(3 + doc_id % 5 AS BIGINT) AS w,
             CAST(3 + doc_id % 4 AS BIGINT) AS h,
             CAST(4 + doc_id % 3 AS BIGINT) AS nf
           FROM documents),
         fr AS (SELECT doc_id, w, h, fs.f AS f,
             20 + (11 * doc_id) % 100 + 5 * (f % 8)
               + CASE WHEN (doc_id + f) % 4 = 0 THEN 100 ELSE 0 END AS r,
             10 + (13 * doc_id) % 100 + 3 * (f % 8)
               + CASE WHEN (doc_id + f) % 4 = 0 THEN 110 ELSE 0 END AS g,
             5 + (17 * doc_id) % 100 + 7 * (f % 8)
               + CASE WHEN (doc_id + f) % 4 = 0 THEN 90 ELSE 0 END AS b
           FROM d, unnest(generate_series(0, nf - 1)) AS fs(f))
         SELECT cur.doc_id, cur.f AS frame_idx, cur.w * cur.h AS n_pixels,
           cur.w * cur.h * abs(cur.r - pre.r) AS d_r,
           cur.w * cur.h * abs(cur.g - pre.g) AS d_g,
           cur.w * cur.h * abs(cur.b - pre.b) AS d_b,
           CAST(CASE WHEN cur.w * cur.h *
               (abs(cur.r - pre.r) + abs(cur.g - pre.g) + abs(cur.b - pre.b))
               > 64 * cur.w * cur.h THEN 1 ELSE 0 END AS INT) AS is_cut
         FROM fr cur JOIN fr pre
           ON cur.doc_id = pre.doc_id AND cur.f = pre.f + 1
         ORDER BY cur.doc_id, frame_idx""")

  /** REAL video frame sampling: per-doc RIFF/AVI containers carrying
    * Motion-PNG streams (Binary.makeRealAvi — frame pixels a closed form
    * of (doc_id, frame)), demuxed by the pure-byte RIFF walker and
    * decoded to exact channel sums in one fused pass
    * (Binary.videoFrameStatsFused, every 2nd frame; BinarySpec pins it
    * against a sample-then-decode reference). The oracle recomputes
    * frame sets/dims/means arithmetically — a demux bug (chunk walk,
    * padding, frame order) or decode bug breaks the hash. */
  gate("m05_video_frames") { (s, dir) =>
    import s.implicits._
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.videoFrameStatsFused(
        src.map(id => Binary.PayloadRow(id, Binary.makeRealAvi(id))),
        stride = 2)
      .toDF()
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"),
        col("n_pixels"),
        round(col("sum_r").cast("double") / col("n_pixels"), 6).as("mean_r"),
        round(col("sum_g").cast("double") / col("n_pixels"), 6).as("mean_g"),
        round(col("sum_b").cast("double") / col("n_pixels"), 6).as("mean_b"))
      .orderBy("doc_id", "frame_idx")
  }(
      """WITH d AS (SELECT doc_id,
             CAST(5 + doc_id % 6 AS BIGINT) AS w,
             CAST(5 + doc_id % 4 AS BIGINT) AS h,
             CAST(2 + doc_id % 3 AS BIGINT) AS nf
           FROM documents),
         fr AS (SELECT doc_id, w, h, fs.f AS f
                FROM d, unnest(generate_series(0, nf - 1)) AS fs(f)
                WHERE f % 2 = 0),
         px AS (SELECT doc_id, w, h, f, xs.x AS x, ys.y AS y
                FROM fr,
                  unnest(generate_series(0, w - 1)) AS xs(x),
                  unnest(generate_series(0, h - 1)) AS ys(y))
         SELECT doc_id, f AS frame_idx, w AS width, h AS height,
           w * h AS n_pixels,
           round(CAST(SUM((doc_id + 17 * f + x + y) % 256) AS DOUBLE)
             / (w * h), 6) AS mean_r,
           round(CAST(SUM((doc_id + 17 * f + 2 * x + y) % 256) AS DOUBLE)
             / (w * h), 6) AS mean_g,
           round(CAST(SUM((doc_id + 17 * f + x + 2 * y) % 256) AS DOUBLE)
             / (w * h), 6) AS mean_b
         FROM px GROUP BY doc_id, f, w, h ORDER BY doc_id, frame_idx""")

  /** REAL MP4 Motion-JPEG frame decode: per-doc ISO-BMFF containers with
    * full sample tables (Binary.makeMjpegMp4 — stsd 'jpeg' + stts/stsc/
    * stsz/stco, samples two-per-chunk so the stsc run grammar is
    * non-degenerate), demuxed by the pure-byte sample-table walk
    * (Binary.mp4JpegFrames) and decoded by the bundled JPEG reader in
    * one fused row-local pass (Binary.mp4FrameStats — zero shuffles,
    * linear in frames). JPEG is lossy, so the decoded color of each
    * uniform frame has no SQL closed form; the gate exports the 20-row
    * round-trip palette dict (driver-side probes, Mp4Spec-pinned equal
    * to the executor decode at every fixture dim) and the oracle joins
    * it against the arithmetic palette index — the d02 exported-dict
    * discipline. Frame set/dims/n_pixels stay fully arithmetic. */
  gate("m13_mp4_frames") { (s, dir) =>
    import s.implicits._
    val dict = (0 until 20).map { c =>
      val (r, g, b) = Binary.mjpegColor(c)
      val (dr, dg, db) = Binary.jpegRoundTripColor(r, g, b)
      (c.toLong, dr, dg, db)
    }
    graft.sim.ModelStore.save(
      s.createDataset(dict).toDF("c", "dr", "dg", "db").coalesce(1),
      "jpeg_dict", s"${gateModelDir(dir, "m13")}/jpeg_dict")
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.mp4FrameStats(
        src.map(id => Binary.PayloadRow(id, Binary.makeMjpegMp4(id))),
        stride = 1)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }(
      // MP4 Motion-JPEG frames: frame set/dims/n_pixels are arithmetic
      // closed forms of doc_id; the DECODED color of each uniform JPEG
      // frame comes from the gate's exported 20-row round-trip palette
      // dict (JPEG's lossy shift is deterministic but not SQL-derivable;
      // Mp4Spec pins dict probe == executor decode at every fixture dim).
      // A demux bug (sample offsets/sizes/stsc runs) corrupts the JPEG
      // bytes and breaks the decoded-sum hash.
      s"""WITH d AS (SELECT doc_id,
             CAST(11 + doc_id % 6 AS BIGINT) AS w,
             CAST(9 + doc_id % 5 AS BIGINT) AS h,
             CAST(3 + doc_id % 4 AS BIGINT) AS nf
           FROM documents),
         dict AS (SELECT c, dr, dg, db
                  FROM read_parquet(${modelGlob("m13", "jpeg_dict")})),
         fr AS (SELECT doc_id, w, h, fs.f AS f,
                  (doc_id + 3 * fs.f) % 20 AS c
                FROM d, unnest(generate_series(0, nf - 1)) AS fs(f))
         SELECT fr.doc_id, fr.f AS frame_idx, fr.w AS width,
           fr.h AS height, fr.w * fr.h AS n_pixels,
           dict.dr * fr.w * fr.h AS sum_r,
           dict.dg * fr.w * fr.h AS sum_g,
           dict.db * fr.w * fr.h AS sum_b
         FROM fr JOIN dict ON fr.c = dict.c
         ORDER BY fr.doc_id, frame_idx""")

  /** REAL Matroska Motion-JPEG frame decode — m13's EBML sibling: per-doc
    * MKV containers with V_MJPEG tracks and per-frame SimpleBlocks (plus
    * one BlockGroup{Block} and a multi-Cluster split, so all the spec's
    * block shapes demux), walked by the pure-byte EBML grammar
    * (Binary.mkvJpegFrames) and decoded in one fused row-local pass
    * (Binary.mkvFrameStats). Same exported round-trip palette dict
    * discipline as m13 (shared [[Binary.mjpegColor]] palette, own export
    * so the oracle is self-contained). */
  gate("m14_mkv_frames") { (s, dir) =>
    import s.implicits._
    val dict = (0 until 20).map { c =>
      val (r, g, b) = Binary.mjpegColor(c)
      val (dr, dg, db) = Binary.jpegRoundTripColor(r, g, b)
      (c.toLong, dr, dg, db)
    }
    graft.sim.ModelStore.save(
      s.createDataset(dict).toDF("c", "dr", "dg", "db").coalesce(1),
      "jpeg_dict", s"${gateModelDir(dir, "m14")}/jpeg_dict")
    val src = t(s, dir, "documents").select(col("doc_id")).as[Long]
    Binary.mkvFrameStats(
        src.map(id => Binary.PayloadRow(id, Binary.makeMjpegMkv(id))),
        stride = 1)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }(
      // Matroska Motion-JPEG frames: m13's discipline over the EBML
      // container — frame set/dims/n_pixels arithmetic, decoded colors
      // via the gate's own exported round-trip palette dict.
      s"""WITH d AS (SELECT doc_id,
             CAST(10 + doc_id % 7 AS BIGINT) AS w,
             CAST(8 + doc_id % 6 AS BIGINT) AS h,
             CAST(2 + doc_id % 5 AS BIGINT) AS nf
           FROM documents),
         dict AS (SELECT c, dr, dg, db
                  FROM read_parquet(${modelGlob("m14", "jpeg_dict")})),
         fr AS (SELECT doc_id, w, h, fs.f AS f,
                  (2 * doc_id + 5 * fs.f) % 20 AS c
                FROM d, unnest(generate_series(0, nf - 1)) AS fs(f))
         SELECT fr.doc_id, fr.f AS frame_idx, fr.w AS width,
           fr.h AS height, fr.w * fr.h AS n_pixels,
           dict.dr * fr.w * fr.h AS sum_r,
           dict.dg * fr.w * fr.h AS sum_g,
           dict.db * fr.w * fr.h AS sum_b
         FROM fr JOIN dict ON fr.c = dict.c
         ORDER BY fr.doc_id, frame_idx""")
}
