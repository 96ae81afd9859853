package graft.ops

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: media as opaque binary payloads with
  * typed metadata, decode/feature-extract as partition-wise typed
  * pipelines, frame sampling as in-plan binary slicing.
  *
  * Every codec plugs into ONE decode seam: a decoder is a pure
  * `Iterator[MediaRow] => Iterator[T]` (per-partition state such as
  * [[decodeStub]]'s digest lives inside it), a fixture is a pure
  * `Long => MediaRow` whose stats are analytic formulas of the id, and
  * [[decode]] / [[fixtures]] are the only places either meets a
  * DataFrame — so a decoder is unit-testable without Spark, and
  * swapping in a JNI/library decoder changes one function.
  * [[decodePpm]] is a REAL byte-level decoder (header parse incl.
  * comments + exact channel sums); [[decodeStub]] stands in for codecs
  * this container can't ship, deriving deterministic pseudo-features
  * from the bytes. The container formats (TAR, ZIP, WARC) each have
  * one validating walk; their stats and member/payload decoders are
  * projections of it. At 100 TB the payloads stay columnar binary
  * (parquet/ORC binary columns read lazily), decode runs data-local
  * per partition, and nothing round-trips the driver.
  */
object Multimodal {

  /** A media row: payload + typed metadata (reference analogue: S3
    * object get returning {key, content: Buffer},
    * adapters/s3/src/index.ts:156-178).
    */
  final case class MediaRow(media_id: Long, mime: String, payload: Array[Byte])

  /** Bounds-checked reads over one untrusted payload. Every decoder in
    * this package reads its header and structure fields through a
    * `Payload`: each read checks `0 ≤ i` and `i + n ≤ length` in Long
    * arithmetic (a huge declared size cannot wrap past the check) and
    * otherwise throws an IllegalArgumentException naming the field, the
    * offset and the media id — a corrupt input never reaches a raw JVM
    * index error. Bulk pixel/sample loops check their range once with
    * [[need]] and then index `bytes` directly. Text decoders parse their
    * numeric fields through [[number]].
    */
  private[ops] final class Payload(val bytes: Array[Byte], val mediaId: Long) {
    def length: Int = bytes.length

    def need(i: Long, n: Long, what: String): Unit =
      if (i < 0 || n < 0 || n > bytes.length - i)
        throw new IllegalArgumentException(
          s"$what at offset $i (+$n) overruns the ${bytes.length}-byte payload: media $mediaId")

    /** The `n`-byte unsigned integer at `i`, little- or big-endian. */
    private def uint(i: Long, n: Int, big: Boolean, what: String): Long = {
      need(i, n, what)
      var v = 0L
      var k = 0
      while (k < n) { v = (v << 8) | (bytes(i.toInt + (if (big) k else n - 1 - k)) & 0xffL); k += 1 }
      v
    }
    def u8(i: Long, what: String = "u8"): Int = uint(i, 1, big = true, what).toInt
    def u16le(i: Long, what: String = "u16le"): Int = uint(i, 2, big = false, what).toInt
    def u16be(i: Long, what: String = "u16be"): Int = uint(i, 2, big = true, what).toInt
    def u32le(i: Long, what: String = "u32le"): Long = uint(i, 4, big = false, what)
    def u32be(i: Long, what: String = "u32be"): Long = uint(i, 4, big = true, what)
    def u64le(i: Long, what: String = "u64le"): Long = uint(i, 8, big = false, what)
    def u64be(i: Long, what: String = "u64be"): Long = uint(i, 8, big = true, what)
    def ascii(i: Long, n: Int, what: String = "ascii"): String = {
      need(i, n, what); new String(bytes, i.toInt, n, java.nio.charset.StandardCharsets.US_ASCII)
    }

    /** Parse one numeric text field; a malformed number is a named failure. */
    def number[T](s: String, what: String)(parse: String => T): T =
      try parse(s) catch {
        case _: NumberFormatException =>
          throw new IllegalArgumentException(s"$what '$s' is not a number: media $mediaId")
      }
  }

  private[ops] object Payload {
    def apply(r: MediaRow): Payload = new Payload(r.payload, r.media_id)
  }

  /** The decode seam: DataFrame of [[MediaRow]]s → typed partition-wise
    * decode → DataFrame. One narrow stage, no shuffle.
    */
  def decode[T <: Product : TypeTag](media: DataFrame)(
      decoder: Iterator[MediaRow] => Iterator[T]): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[MediaRow].mapPartitions(decoder).toDF()
  }

  /** One fixture row per id in `docs.idCol` — the DataFrame side of the
    * pure `Long => MediaRow` fixture generators.
    */
  def fixtures(docs: DataFrame, idCol: String)(f: Long => MediaRow): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id")).as[Long].map(f).toDF()
  }

  /** Extracted features. `embedding` stands in for a model output. */
  final case class MediaFeatures(media_id: Long, mime: String, n_bytes: Long,
                                 content_hash: String, embedding: Array[Double])

  /** Wrap a text table as binary media (what an ingest job does with
    * real image/audio bytes).
    */
  def asMedia(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("media_id"),
      lit("text/plain").as("mime"),
      col(textCol).cast("binary").as("payload"))

  /** STUB decoder — deterministic pseudo-features from the raw bytes
    * (byte length, md5, an 8-dim "embedding" from the md5 nibbles). A
    * real implementation would decode/resize here; everything around it
    * (typed Dataset in, typed Dataset out, per-partition batching) is the
    * production shape.
    */
  def decodeStub(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { r =>
      md.reset()
      val digest = md.digest(r.payload)
      val hex = digest.map("%02x".format(_)).mkString
      val emb = (0 until 8).map(i => ((digest(i) & 0xff) / 255.0)).toArray
      MediaFeatures(r.media_id, r.mime, r.payload.length.toLong, hex, emb)
    }
  }

  /** Parsed image: dimensions + exact per-channel byte sums (integer —
    * cross-engine hashable; means are a trailing division away).
    */
  final case class ImageStats(media_id: Long, width: Int, height: Int,
                              maxval: Int, n_pixels: Long,
                              r_sum: Long, g_sum: Long, b_sum: Long)

  /** REAL decoder for binary P6 PPM (netpbm): parse the header — magic,
    * `#` comments, whitespace-separated width/height/maxval — then fold
    * the raw RGB triplets into exact per-channel sums. This is genuine
    * byte-level decoding of a public image format (the one codec a
    * zero-dependency container can decode honestly); a JPEG/PNG decoder
    * drops into the same `Iterator[MediaRow] => Iterator[ImageStats]`
    * seam. Malformed payloads fail LOUDLY (task error), not as nulls —
    * a corrupt-blob quarantine belongs upstream of decode.
    */
  def decodePpm(rows: Iterator[MediaRow]): Iterator[ImageStats] = rows.map { r =>
    val b = r.payload
    val (w, h, mv, off) = parsePpmHeader(Payload(r))
    val n = w.toLong * h
    var i = off
    var (rs, gs, bs) = (0L, 0L, 0L)
    var p = 0L
    while (p < n) {
      rs += b(i) & 0xff; gs += b(i + 1) & 0xff; bs += b(i + 2) & 0xff
      i += 3; p += 1
    }
    ImageStats(r.media_id, w, h, mv, n, rs, gs, bs)
  }

  /** Deterministic P6 fixture per id: w = 1 + id%8, h = 1 + id%5,
    * maxval 255, raster byte j = (id·31 + j) mod 256 — an analytic
    * formula a SQL oracle reproduces without any binary parsing, so the
    * REAL parser above is checked against independently-computed stats.
    * (A `# synthetic` comment line exercises the header's comment path
    * on every row.)
    */
  def syntheticPpm(id: Long): MediaRow = {
    val w = 1 + (id % 8).toInt
    val h = 1 + (id % 5).toInt
    val header = s"P6\n# synthetic\n$w $h\n255\n".getBytes("US-ASCII")
    val px = Array.tabulate(w * h * 3)(j => ((id * 31 + j) % 256).toByte)
    MediaRow(id, "image/x-portable-pixmap", header ++ px)
  }

  /** Parsed audio: format fields + exact per-channel sample sums
    * (integer — cross-engine hashable, like [[ImageStats]]).
    */
  final case class WavStats(media_id: Long, n_channels: Int, sample_rate: Int,
                            bits_per_sample: Int, n_frames: Long,
                            ch0_sum: Long, ch1_sum: Long)

  /** REAL decoder for RIFF/WAV 16-bit PCM (the second public format the
    * container can decode honestly — proves the decode seam generalizes
    * beyond one codec): walk the RIFF chunk list (ids + little-endian
    * u32 sizes, unknown chunks SKIPPED with even-byte padding, exactly
    * per spec), parse `fmt ` (PCM only), fold the `data` samples into
    * exact per-channel sums. Malformed payloads fail loudly, like
    * [[decodePpm]].
    */
  def decodeWav(rows: Iterator[MediaRow]): Iterator[WavStats] = rows.map { r =>
    val in = Payload(r)
    var (nCh, rate, bits, align) = (0, 0, 0, 0)
    var nFrames = 0L
    var (s0, s1) = (0L, 0L)
    var seenFmt = false
    riffChunks(in).foreach {
      case ("fmt ", body, sz) =>
        require(sz >= 16, s"fmt chunk too short ($sz < 16): media ${r.media_id}")
        require(in.u16le(body) == 1, s"not PCM (fmt ${in.u16le(body)}): media ${r.media_id}")
        nCh = in.u16le(body + 2); rate = in.u32le(body + 4).toInt
        align = in.u16le(body + 12); bits = in.u16le(body + 14)
        require(bits == 16, s"only 16-bit PCM supported: media ${r.media_id}")
        require(nCh == 1 || nCh == 2,
          s"per-channel sums are defined for mono/stereo only, got $nCh channels: media ${r.media_id}")
        require(align > 0, s"fmt block align is 0: media ${r.media_id}")
        seenFmt = true
      case ("data", body, sz) =>
        require(seenFmt, s"data chunk before fmt: media ${r.media_id}")
        nFrames = sz.toLong / align
        var j = 0
        while (j < sz / 2) {
          val v = in.u16le(body + 2 * j).toShort.toLong // LE signed 16-bit
          if (j % nCh == 0) s0 += v else s1 += v
          j += 1
        }
      case _ => // unknown chunk (LIST, JUNK, ...): skipped
    }
    require(seenFmt, s"no fmt chunk: media ${r.media_id}")
    WavStats(r.media_id, nCh, rate, bits, nFrames, s0, s1)
  }

  /** The RIFF/WAVE chunk walk shared by [[decodeWav]] and the audio
    * fingerprints: (id, body offset, size) per chunk, each declared size
    * checked against the payload, bodies padded to even length per spec.
    */
  private def riffChunks(in: Payload): Seq[(String, Int, Int)] = {
    require(in.ascii(0, 4, "RIFF id") == "RIFF" && in.ascii(8, 4, "WAVE id") == "WAVE",
      s"not a RIFF/WAVE payload: media ${in.mediaId}")
    val out = Vector.newBuilder[(String, Int, Int)]
    var i = 12
    while (i + 8 <= in.length) {
      val cid = in.ascii(i, 4); val szL = in.u32le(i + 4)
      val body = i + 8
      // a size field >= 2^31 would wrap negative under .toInt and stall
      // the cursor — malformed payloads must FAIL, not spin
      require(szL <= in.length - body,
        s"chunk '$cid' size $szL overruns payload: media ${in.mediaId}")
      val sz = szL.toInt
      out += ((cid, body, sz))
      i = body + sz + (sz & 1)
    }
    out.result()
  }

  /** Deterministic WAV fixture per id: channels = 1 + id%2, rate =
    * 8000 + (id%4)·1000, frames = 4 + id%16, sample j =
    * ((id·37 + j·13) mod 4001) − 2000 (fits int16) — analytic, so the
    * oracle recomputes the stats WITHOUT parsing. A junk `LIST` chunk
    * sits between `fmt ` and `data` to exercise the skip path on every
    * row.
    */
  def syntheticWav(id: Long): MediaRow = {
    val nCh = 1 + (id % 2).toInt
    val rate = 8000 + (id % 4).toInt * 1000
    val frames = 4 + (id % 16).toInt
    val nSamp = frames * nCh
    val dataSz = nSamp * 2
    val bb = java.nio.ByteBuffer.allocate(12 + 24 + 14 + 8 + dataSz)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 24 + 14 + 8 + dataSz)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(nCh.toShort).putInt(rate)
      .putInt(rate * nCh * 2).putShort((nCh * 2).toShort).putShort(16)
    bb.put("LIST".getBytes("US-ASCII")).putInt(6)
      .put("junk!".getBytes("US-ASCII")).put(0.toByte) // even size: no pad byte
    bb.put("data".getBytes("US-ASCII")).putInt(dataSz)
    var j = 0
    while (j < nSamp) {
      bb.putShort((((id * 37 + j * 13) % 4001) - 2000).toShort); j += 1
    }
    MediaRow(id, "audio/wav", bb.array())
  }

  /** Parsed BMP: dimensions + exact per-channel sums + the TOP image
    * row's channel sum — `row0_sum` is the bottom-up witness: BMP
    * stores scanlines bottom-to-top, so a decoder that reads rows in
    * file order attributes the bottom row to row 0 and diverges on
    * every fixture with h > 1 (total sums alone cannot see row order).
    */
  final case class BmpStats(media_id: Long, width: Int, height: Int,
                            r_sum: Long, g_sum: Long, b_sum: Long,
                            row0_sum: Long)

  /** REAL decoder for uncompressed 24-bit BI_RGB BMP (the third image
    * format the container can decode honestly): validate the
    * BITMAPFILEHEADER (`BM` magic, pixel-array offset) and
    * BITMAPINFOHEADER (header size 40, 24 bpp, BI_RGB), then walk the
    * pixel array bottom-up with the 4-byte scanline stride —
    * `rowSize = (3·w + 3) & ~3` — skipping the per-row padding bytes
    * (the fixture writes NONZERO junk padding, so a decoder that sums
    * the full stride fails loudly at the oracle). Pixels are stored
    * BGR; sums are emitted per logical channel. Malformed payloads
    * fail loudly, like [[decodePpm]].
    */
  def decodeBmp(rows: Iterator[MediaRow]): Iterator[BmpStats] = rows.map { r =>
    val in = Payload(r)
    in.need(0, 54, "BMP headers")
    require(in.ascii(0, 2) == "BM", s"not a BMP payload: media ${r.media_id}")
    val offBits = in.u32le(10)
    val biSize = in.u32le(14)
    require(biSize == 40, s"not BITMAPINFOHEADER (biSize $biSize): media ${r.media_id}")
    val w = in.u32le(18).toInt
    val h = in.u32le(22).toInt // positive = bottom-up per spec
    require(h > 0, s"top-down (negative-height) BMP unsupported: media ${r.media_id}")
    require(in.u16le(26) == 1, s"biPlanes must be 1: media ${r.media_id}")
    val bpp = in.u16le(28)
    require(bpp == 24, s"only 24-bit BMP supported (got $bpp): media ${r.media_id}")
    require(in.u32le(30) == 0, s"only BI_RGB (uncompressed) supported: media ${r.media_id}")
    val rowSize = (3 * w + 3) & ~3
    require(offBits + rowSize.toLong * h <= in.length,
      s"pixel array overruns payload: media ${r.media_id}")
    var (rs, gs, bs) = (0L, 0L, 0L)
    var row0 = 0L
    var fr = 0
    while (fr < h) {
      val y = h - 1 - fr // file row fr holds image row y (bottom-up)
      val base = offBits.toInt + fr * rowSize
      var x = 0
      while (x < w) {
        val bl = in.u8(base + 3 * x); val gr = in.u8(base + 3 * x + 1)
        val rd = in.u8(base + 3 * x + 2)
        bs += bl; gs += gr; rs += rd
        if (y == 0) row0 += bl + gr + rd
        x += 1
      }
      fr += 1
    }
    BmpStats(r.media_id, w, h, rs, gs, bs, row0)
  }

  /** Parsed QOI: dimensions + exact channel sums + the position-
    * weighted sum Σ p·(r+g+b) — the run/index/diff ops all shift pixel
    * POSITIONS when mis-decoded, which total sums can't see but the
    * weighted witness always does.
    */
  final case class QoiStats(media_id: Long, width: Int, height: Int,
                            r_sum: Long, g_sum: Long, b_sum: Long,
                            wsum: Long)

  /** REAL decoder for QOI (the Quite OK Image format, qoiformat.org —
    * public spec): validate the `qoif` magic + big-endian dims +
    * channels/colorspace, then replay the full op stream — RGB (0xfe),
    * RGBA (0xff), INDEX (2-bit tag 00 + 6-bit slot into the running
    * 64-entry color index keyed by (3r+5g+7b+11a) mod 64), DIFF (01 +
    * three 2-bit channel deltas biased +2, wrapping), LUMA (10 +
    * 6-bit dg biased +32 and 4-bit dr−dg/db−dg biased +8, wrapping),
    * RUN (11 + length−1, max 62) — maintaining the index table after
    * every emitted pixel exactly per spec, and require the 7×00+01 end
    * marker. Malformed payloads fail loudly, like [[decodePpm]].
    */
  def decodeQoi(rows: Iterator[MediaRow]): Iterator[QoiStats] = rows.map { r =>
    val in = Payload(r)
    require(in.ascii(0, 4, "qoif magic") == "qoif", s"not a QOI payload: media ${r.media_id}")
    val w = in.u32be(4).toInt; val h = in.u32be(8).toInt
    val channels = in.u8(12); val colorspace = in.u8(13)
    require(w > 0 && h > 0, s"bad dimensions ${w}x$h: media ${r.media_id}")
    require(channels == 3 || channels == 4,
      s"bad channel count $channels: media ${r.media_id}")
    require(colorspace <= 1, s"bad colorspace $colorspace: media ${r.media_id}")
    val n = w.toLong * h
    val index = Array.fill(64)(0)        // packed 0xAARRGGBB, spec-initial zero
    var (pr, pg, pb, pa) = (0, 0, 0, 255)
    var (rs, gs, bs, ws) = (0L, 0L, 0L, 0L)
    var p = 0L
    var i = 14
    def emit(run: Int): Unit = {
      var k = 0
      while (k < run) {
        rs += pr; gs += pg; bs += pb; ws += p * (pr + pg + pb)
        p += 1; k += 1
      }
    }
    while (p < n) {
      require(i < in.length - 8, s"op stream truncated at pixel $p: media ${r.media_id}")
      val op = in.u8(i)
      if (op == 0xfe) { // RGB
        pr = in.u8(i + 1); pg = in.u8(i + 2); pb = in.u8(i + 3); i += 4; emit(1)
      } else if (op == 0xff) { // RGBA
        pr = in.u8(i + 1); pg = in.u8(i + 2); pb = in.u8(i + 3); pa = in.u8(i + 4); i += 5; emit(1)
      } else (op >> 6) match {
        case 0 => // INDEX
          val v = index(op & 0x3f)
          pa = (v >>> 24) & 0xff; pr = (v >> 16) & 0xff; pg = (v >> 8) & 0xff; pb = v & 0xff
          i += 1; emit(1)
        case 1 => // DIFF, deltas biased +2, wrapping
          pr = (pr + ((op >> 4) & 3) - 2) & 0xff
          pg = (pg + ((op >> 2) & 3) - 2) & 0xff
          pb = (pb + (op & 3) - 2) & 0xff
          i += 1; emit(1)
        case 2 => // LUMA
          val dg = (op & 0x3f) - 32
          val b2 = in.u8(i + 1)
          pr = (pr + dg + ((b2 >> 4) & 0xf) - 8) & 0xff
          pg = (pg + dg) & 0xff
          pb = (pb + dg + (b2 & 0xf) - 8) & 0xff
          i += 2; emit(1)
        case _ => // RUN, length biased −1 (62 max: 0xfe/0xff are RGB/RGBA)
          val run = (op & 0x3f) + 1
          require(p + run <= n, s"run overruns image at pixel $p: media ${r.media_id}")
          i += 1; emit(run)
      }
      index((3 * pr + 5 * pg + 7 * pb + 11 * pa) % 64) =
        (pa << 24) | (pr << 16) | (pg << 8) | pb
    }
    require((0 until 7).forall(k => in.u8(i + k) == 0) && in.u8(i + 7) == 1,
      s"missing QOI end marker: media ${r.media_id}")
    QoiStats(r.media_id, w, h, rs, gs, bs, ws)
  }

  /** Deterministic QOI fixture per id, written by a REAL greedy QOI
    * encoder (run → index → diff → luma → rgb op choice, maintaining
    * the 64-entry color index per spec — so the fixture stream mixes
    * every op class the formula's diffs reach): w = 1 + id%6,
    * h = 1 + id%5, and the pixel at position p takes its channels from
    * the analytic formula at q = p − [p mod 7 = 6] (every 7th pixel
    * REPEATS its predecessor, forcing genuine RUN ops):
    * r = (id·17 + 7q²) mod 256, g = (id·23 + 3q) mod 256,
    * b = (id·31 + (5q² + q mod 97)) mod 256. The quadratic terms make
    * small AND large deltas, so DIFF/LUMA/RGB all appear. The oracle
    * recomputes all stats from the formula WITHOUT parsing a byte.
    */
  def syntheticQoi(id: Long): MediaRow = {
    val w = 1 + (id % 6).toInt
    val h = 1 + (id % 5).toInt
    val n = w * h
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Unit = {
      out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff)
    }
    out.write('q'); out.write('o'); out.write('i'); out.write('f')
    be32(w); be32(h); out.write(3); out.write(0)
    val index = Array.fill(64)(0)
    var (pr, pg, pb) = (0, 0, 0); val pa = 255
    var run = 0
    def flushRun(): Unit = if (run > 0) { out.write(0xc0 | (run - 1)); run = 0 }
    var p = 0
    while (p < n) {
      val q = p - (if (p % 7 == 6) 1 else 0)
      val cr = ((id * 17 + 7L * q * q) % 256).toInt
      val cg = ((id * 23 + 3L * q) % 256).toInt
      val cb = ((id * 31 + (5L * q * q + q) % 97) % 256).toInt
      if (cr == pr && cg == pg && cb == pb) {
        run += 1
        if (run == 62) flushRun()
      } else {
        flushRun()
        val slot = (3 * cr + 5 * cg + 7 * cb + 11 * pa) % 64
        val packed = (pa << 24) | (cr << 16) | (cg << 8) | cb
        val dr = ((cr - pr + 128) & 0xff) - 128
        val dg = ((cg - pg + 128) & 0xff) - 128
        val db = ((cb - pb + 128) & 0xff) - 128
        if (index(slot) == packed) out.write(slot)
        else if (dr >= -2 && dr <= 1 && dg >= -2 && dg <= 1 && db >= -2 && db <= 1)
          out.write(0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2))
        else if (dg >= -32 && dg <= 31 && (dr - dg) >= -8 && (dr - dg) <= 7
            && (db - dg) >= -8 && (db - dg) <= 7) {
          out.write(0x80 | (dg + 32))
          out.write(((dr - dg + 8) << 4) | (db - dg + 8))
        } else {
          out.write(0xfe); out.write(cr); out.write(cg); out.write(cb)
        }
        pr = cr; pg = cg; pb = cb
      }
      index((3 * pr + 5 * pg + 7 * pb + 11 * pa) % 64) =
        (pa << 24) | (pr << 16) | (pg << 8) | pb
      p += 1
    }
    flushRun()
    (0 until 7).foreach(_ => out.write(0)); out.write(1)
    MediaRow(id, "image/qoi", out.toByteArray)
  }

  /** CRC32C (Castagnoli, reflected poly 0x82f63b78) — the checksum the
    * TFRecord framing uses, table-driven, byte-exact.
    */
  private val Crc32cTable: Array[Int] = {
    val t = new Array[Int](256)
    var n = 0
    while (n < 256) {
      var c = n
      var k = 0
      while (k < 8) { c = if ((c & 1) != 0) 0x82f63b78 ^ (c >>> 1) else c >>> 1; k += 1 }
      t(n) = c; n += 1
    }
    t
  }

  private[ops] def crc32c(b: Array[Byte], off: Int, len: Int): Int = {
    var c = 0xffffffff
    var i = off
    while (i < off + len) { c = Crc32cTable((c ^ b(i)) & 0xff) ^ (c >>> 8); i += 1 }
    ~c
  }

  /** TFRecord's masked CRC: rotate-right 15 + magic, per the public
    * TensorFlow framing spec.
    */
  private[graft] def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = crc32c(b, off, len)
    ((c >>> 15) | (c << 17)) + 0xa282ead8
  }

  /** Parsed TFRecord shard: record count, total payload bytes, exact
    * payload byte sum, and the record-position-weighted sum Σ r·sum_r —
    * the framing witness (a walker that mis-sizes one record shifts
    * every later record's position).
    */
  final case class TfRecordStats(media_id: Long, n_records: Long,
                                 total_len: Long, payload_sum: Long,
                                 wsum: Long)

  /** REAL decoder for the TFRecord framing (the de-facto training-shard
    * container; public spec in the TensorFlow docs): per record a
    * little-endian u64 length, the MASKED CRC32C of those 8 length
    * bytes, the payload, and the masked CRC32C of the payload. Both
    * CRCs are recomputed with the real Castagnoli table and VERIFIED —
    * a flipped bit anywhere fails loudly (the integrity contract
    * TFRecord exists for), never as a skipped record.
    */
  def decodeTfRecord(rows: Iterator[MediaRow]): Iterator[TfRecordStats] = rows.map { r =>
    val b = r.payload
    var (nRec, totLen, pSum, wSum) = (0L, 0L, 0L, 0L)
    tfRecordFrames(Payload(r)).foreach { case (body, len) =>
      var s = 0L
      var j = 0
      while (j < len) { s += b(body + j) & 0xff; j += 1 }
      pSum += s; wSum += nRec * s; totLen += len; nRec += 1
    }
    TfRecordStats(r.media_id, nRec, totLen, pSum, wSum)
  }

  /** The verified TFRecord framing walk behind [[decodeTfRecord]] and
    * `ModelFormats.decodeTfExample`: (body offset, length) per record,
    * both masked CRCs checked.
    */
  private[ops] def tfRecordFrames(in: Payload): Seq[(Int, Int)] = {
    val (b, id) = (in.bytes, in.mediaId)
    val out = Vector.newBuilder[(Int, Int)]
    var i = 0
    while (i < b.length) {
      val len = in.u64le(i, "record length")
      require(in.u32le(i + 8, "length CRC").toInt == maskedCrc(b, i, 8),
        s"length CRC mismatch at $i: media $id")
      val body = i + 12
      require(len >= 0 && len <= b.length - body - 4,
        s"record overruns payload at $i (len $len): media $id")
      require(in.u32le(body + len, "payload CRC").toInt == maskedCrc(b, body, len.toInt),
        s"payload CRC mismatch at $i: media $id")
      out += ((body, len.toInt))
      i = body + len.toInt + 4
    }
    out.result()
  }

  /** Deterministic TFRecord fixture per id: n = 1 + id%4 records,
    * record r carries length L = 5 + (id + r)%11 and payload byte j =
    * (id·13 + r·7 + j) mod 256 — analytic, so the oracle recomputes
    * counts and sums WITHOUT parsing; the CRCs exist only in the binary
    * and are written with the real masked-CRC32C, so the decoder's
    * verification path runs on every record.
    */
  def syntheticTfRecord(id: Long): MediaRow = {
    val n = 1 + (id % 4).toInt
    val out = new java.io.ByteArrayOutputStream()
    var r = 0
    while (r < n) {
      val len = 5 + ((id + r) % 11).toInt
      val payload = Array.tabulate(len)(j => ((id * 13 + r * 7 + j) % 256).toByte)
      val hdr = new Array[Byte](8)
      var k = 0
      while (k < 8) { hdr(k) = ((len.toLong >> (8 * k)) & 0xff).toByte; k += 1 }
      out.write(hdr)
      val lc = maskedCrc(hdr, 0, 8)
      out.write(lc & 0xff); out.write((lc >>> 8) & 0xff)
      out.write((lc >>> 16) & 0xff); out.write((lc >>> 24) & 0xff)
      out.write(payload)
      val pc = maskedCrc(payload, 0, len)
      out.write(pc & 0xff); out.write((pc >>> 8) & 0xff)
      out.write((pc >>> 16) & 0xff); out.write((pc >>> 24) & 0xff)
      r += 1
    }
    MediaRow(id, "application/x-tfrecord", out.toByteArray)
  }

  /** Parsed P4 bitmap: dimensions, black-pixel census, top-row black
    * count and the position-weighted black sum (the bit-order witness).
    */
  final case class PbmStats(media_id: Long, width: Int, height: Int,
                            n_black: Long, row0_black: Long, wsum: Long)

  /** REAL decoder for BINARY PBM (netpbm P4 — the one PACKED-BIT public
    * image format): header like [[decodePpm]]'s (magic, `#` comments,
    * whitespace-separated dims), then rows of ⌈w/8⌉ bytes, bits
    * MSB-first, 1 = black, and the final byte's low padding bits are
    * DON'T-CARE per spec — the fixture writes 1s there, so a decoder
    * that counts bits past `w` fails the oracle. Malformed payloads
    * fail loudly.
    */
  def decodePbm(rows: Iterator[MediaRow]): Iterator[PbmStats] = rows.map { r =>
    val b = r.payload
    val (w, h, off) = parsePbmHeader(Payload(r))
    val rowBytes = (w + 7) / 8
    require(off + rowBytes.toLong * h <= b.length,
      s"bit raster overruns payload: media ${r.media_id}")
    var (nb, r0, ws) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val byte = b(off + y * rowBytes + (x >> 3)) & 0xff
        if (((byte >> (7 - (x & 7))) & 1) == 1) {
          nb += 1; ws += y.toLong * w + x
          if (y == 0) r0 += 1
        }
        x += 1
      }
      y += 1
    }
    PbmStats(r.media_id, w, h, nb, r0, ws)
  }

  private def parsePbmHeader(in: Payload): (Int, Int, Int) = {
    val (b, id) = (in.bytes, in.mediaId)
    var i = 0
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && i < b.length) {
        val c = b(i).toChar
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c.isWhitespace) i += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWsAndComments()
      val st = i
      while (i < b.length && (b(i) & 0xff) >= '0' && (b(i) & 0xff) <= '9') i += 1
      require(i > st, s"expected integer in PBM header: media $id")
      in.number(in.ascii(st, i - st), "PBM dimension")(_.toInt)
    }
    require(in.ascii(0, 2, "P4 magic") == "P4", s"not a P4 PBM payload: media $id")
    i = 2
    val w = int(); val h = int()
    require(w > 0 && h > 0, s"bad PBM dimensions ${w}x$h: media $id")
    require(i < b.length && (b(i).toChar.isWhitespace),
      s"missing raster separator: media $id")
    i += 1 // exactly ONE whitespace byte before the raster, per spec
    (w, h, i)
  }

  /** Deterministic P4 fixture per id: w = 1 + id%13 (rarely
    * byte-aligned, so every row ends in partial-byte padding), h = 1 +
    * id%4, pixel (x, y) black iff (id + 3x + 7y) mod 5 = 0. Padding
    * bits are written as 1s — don't-care per spec, poison for a sloppy
    * decoder. The oracle recomputes the census from the formula.
    */
  def syntheticPbm(id: Long): MediaRow = {
    val w = 1 + (id % 13).toInt
    val h = 1 + (id % 4).toInt
    val rowBytes = (w + 7) / 8
    val header = s"P4\n# packed\n$w $h\n".getBytes("US-ASCII")
    val raster = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < rowBytes * 8) {
        val bit =
          if (x >= w) 1 // poison padding
          else if ((id + 3 * x + 7 * y) % 5 == 0) 1 else 0
        if (bit == 1)
          raster(y * rowBytes + (x >> 3)) =
            (raster(y * rowBytes + (x >> 3)) | (1 << (7 - (x & 7)))).toByte
        x += 1
      }
      y += 1
    }
    MediaRow(id, "image/x-portable-bitmap", header ++ raster)
  }

  /** Parsed Standard MIDI File: track/note counts, total delta-time
    * ticks (every VLQ in the file contributes — a mis-parsed
    * continuation bit shifts it), and exact key/velocity sums.
    */
  final case class MidiStats(media_id: Long, n_tracks: Long, n_notes: Long,
                             total_ticks: Long, key_sum: Long, vel_sum: Long)

  /** REAL decoder for Standard MIDI Files (public MMA spec): `MThd`
    * header (big-endian sizes, format/ntrks/division), then per `MTrk`
    * chunk a genuine VARIABLE-LENGTH-QUANTITY walk — 7 data bits per
    * byte, MSB continuation — over delta-times, note-on/off channel
    * events (running status supported: a data byte where a status is
    * expected reuses the previous status, per spec) and the FF 2F 00
    * end-of-track meta. The cursor must land exactly on the declared
    * track length — a framing witness a sloppy walker can't fake.
    * Malformed payloads fail loudly.
    */
  def decodeMidi(rows: Iterator[MediaRow]): Iterator[MidiStats] = rows.map { r =>
    val in = Payload(r)
    in.need(0, 14, "MThd header")
    require(in.ascii(0, 4) == "MThd" && in.u32be(4) == 6,
      s"not a MIDI payload: media ${r.media_id}")
    val ntrks = in.u16be(10)
    var i = 14
    var (nNotes, ticks, keySum, velSum) = (0L, 0L, 0L, 0L)
    var tracksSeen = 0
    while (tracksSeen < ntrks) {
      require(in.ascii(i, 4, "MTrk id") == "MTrk", s"missing MTrk chunk at $i: media ${r.media_id}")
      val len = in.u32be(i + 4, "track length")
      val body = i + 8
      require(len <= in.length - body, s"track overruns payload: media ${r.media_id}")
      val end = body + len.toInt
      var p = body
      var status = -1
      var done = false
      while (!done) {
        require(p < end, s"track ran past declared length: media ${r.media_id}")
        var dt = 0L // delta-time VLQ
        var more = true
        while (more) {
          val v = in.u8(p); p += 1
          dt = (dt << 7) | (v & 0x7f)
          more = (v & 0x80) != 0
        }
        ticks += dt
        var st = in.u8(p)
        if (st >= 0x80) { status = st; p += 1 } else {
          require(status >= 0, s"running status with no prior status: media ${r.media_id}")
          st = status // running status: reuse, don't consume
        }
        if (st == 0xff) { // meta event: type + VLQ length + data
          val mt = in.u8(p); p += 1
          var mlen = 0L; var m2 = true
          while (m2) { val v = in.u8(p); p += 1; mlen = (mlen << 7) | (v & 0x7f); m2 = (v & 0x80) != 0 }
          require(mlen >= 0 && mlen <= end - p, s"meta event length $mlen overruns track: media ${r.media_id}")
          p += mlen.toInt
          if (mt == 0x2f) done = true
        } else (st & 0xf0) match {
          case 0x90 =>
            val k = in.u8(p); val v = in.u8(p + 1); p += 2
            if (v > 0) { nNotes += 1; keySum += k; velSum += v }
          case 0x80 => p += 2
          case 0xc0 | 0xd0 => p += 1 // program change / channel pressure
          case _ => p += 2           // other channel events: 2 data bytes
        }
      }
      require(p == end,
        s"track cursor $p != declared end $end: media ${r.media_id}")
      i = end
      tracksSeen += 1
    }
    MidiStats(r.media_id, ntrks.toLong, nNotes, ticks, keySum, velSum)
  }

  /** Fixture bitrate menu (kbps) indexed by 1 + (id+f) % 13 → element
    * b−1 — the GENERATION formula, shared between [[syntheticMp3]] and
    * the DuckDB oracle ([[sqlMp3Kbps]]). The DECODER never sees this:
    * it reads the header bits against the full MPEG-1 Layer III
    * standard table, independently transcribed in [[decodeMp3]]. */
  val Mp3FixtureKbps: Array[Int] =
    Array(32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256)

  /** DuckDB CASE over [[Mp3FixtureKbps]] for the formula oracle. */
  def sqlMp3Kbps(bIdx: String): String =
    Mp3FixtureKbps.zipWithIndex
      .map { case (k, i) => s"WHEN ${i + 1} THEN $k" }
      .mkString(s"CASE ($bIdx) ", " ", " END")

  /** Parsed MP3: ID3v2 tag size (header + syncsafe body), frame count,
    * byte length, Σ per-frame bitrate (kbps) and Σ per-frame duration
    * in integer µs (1152 samples ⁄ samplerate, floor per frame — the
    * oracle replays the same floor). */
  final case class Mp3Stats(media_id: Long, n_frames: Long, id3_size: Long,
                            byte_len: Long, kbps_sum: Long, dur_us: Long)

  /** MPEG-1 Layer III frame walk + ID3v2 skip — the 18th container
    * format: a sync-word stream, not a chunk directory (every prior
    * walker had a length-prefixed or directory structure; MP3 frames
    * carry their length IMPLICITLY in the header's bitrate/samplerate/
    * padding bits via len = 144·bitrate ⁄ samplerate + pad, so a single
    * misread desyncs everything after it). ID3v2 size is SYNCSAFE
    * (7 bits per byte — a naive u32 read overshoots whenever any size
    * byte ≥ 0x80). Truncated final frames, bad versions/layers,
    * free-format (idx 0) and forbidden (idx 15) bitrates all fail
    * loudly, like every decoder in this file. Ref for the table:
    * ISO/IEC 11172-3 (public standard values).
    */
  def decodeMp3(rows: Iterator[MediaRow]): Iterator[Mp3Stats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    // full MPEG-1 Layer III standard tables — independent of the fixture
    val kbpsTab = Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192,
      224, 256, 320, -1)
    val srTab = Array(44100, 48000, 32000, -1)
    var off = 0
    var id3Size = 0L
    if (b.length >= 10 && in.ascii(0, 3) == "ID3") {
      require(in.u8(3) == 3 || in.u8(3) == 4,
        s"unsupported ID3v2 version ${in.u8(3)}: media ${r.media_id}")
      require((in.u8(6) | in.u8(7) | in.u8(8) | in.u8(9)) < 0x80,
        s"non-syncsafe ID3 size byte: media ${r.media_id}")
      val body = (in.u8(6) << 21) | (in.u8(7) << 14) | (in.u8(8) << 7) | in.u8(9)
      id3Size = 10L + body
      require(id3Size <= b.length,
        s"ID3 tag overruns payload: media ${r.media_id}")
      off = id3Size.toInt
    }
    var nFrames = 0L
    var kbpsSum = 0L
    var durUs = 0L
    while (off < b.length) {
      require(off + 4 <= b.length,
        s"trailing garbage (${b.length - off} bytes, no frame header): media ${r.media_id}")
      require(in.u8(off) == 0xff && (in.u8(off + 1) & 0xe0) == 0xe0,
        s"lost sync at $off: media ${r.media_id}")
      val h1 = in.u8(off + 1)
      require((h1 >> 3 & 0x3) == 3, s"not MPEG-1 at $off: media ${r.media_id}")
      require((h1 >> 1 & 0x3) == 1, s"not Layer III at $off: media ${r.media_id}")
      val h2 = in.u8(off + 2)
      val bIdx = h2 >> 4
      val sIdx = h2 >> 2 & 0x3
      val pad = h2 >> 1 & 0x1
      require(bIdx >= 1 && bIdx <= 14,
        s"free/forbidden bitrate index $bIdx at $off: media ${r.media_id}")
      require(sIdx != 3, s"reserved samplerate at $off: media ${r.media_id}")
      val kbps = kbpsTab(bIdx)
      val sr = srTab(sIdx)
      val flen = 144 * kbps * 1000 / sr + pad
      require(flen >= 4 && off + flen <= b.length,
        s"frame at $off (len $flen) overruns payload: media ${r.media_id}")
      nFrames += 1
      kbpsSum += kbps
      durUs += 1152000000L / sr
      off += flen
    }
    Mp3Stats(r.media_id, nFrames, id3Size, b.length.toLong, kbpsSum, durUs)
  }

  /** ID3v2.3 tag (syncsafe size, sync-free padding body) + 3..8 real
    * MPEG-1 Layer III frames with deterministic bitrate/samplerate/
    * padding drawn from the id — every frame length derives from the
    * header exactly as the standard prescribes, so the walker's table
    * lookups are exercised on every row. */
  def syntheticMp3(id: Long): MediaRow = {
    val nf = 3 + (id % 6).toInt
    val tagBody = 10 + (id % 50).toInt
    val srTab = Array(44100, 48000, 32000)
    val frames = (0 until nf).map { f =>
      val kbps = Mp3FixtureKbps((((id + f) % 13)).toInt)
      val sr = srTab(((id + f) % 3).toInt)
      val pad = ((id + f) % 2).toInt
      val bIdx = ((id + f) % 13).toInt + 1
      val sIdx = ((id + f) % 3).toInt
      (bIdx, sIdx, pad, 144 * kbps * 1000 / sr + pad)
    }
    val total = 10 + tagBody + frames.map(_._4).sum
    val b = new Array[Byte](total)
    b(0) = 'I'; b(1) = 'D'; b(2) = '3'; b(3) = 3; b(4) = 0; b(5) = 0
    b(6) = ((tagBody >> 21) & 0x7f).toByte
    b(7) = ((tagBody >> 14) & 0x7f).toByte
    b(8) = ((tagBody >> 7) & 0x7f).toByte
    b(9) = (tagBody & 0x7f).toByte
    var j = 0
    while (j < tagBody) { b(10 + j) = ((id + j) % 128).toByte; j += 1 }
    var off = 10 + tagBody
    var f = 0
    while (f < nf) {
      val (bIdx, sIdx, pad, flen) = frames(f)
      b(off) = 0xff.toByte
      b(off + 1) = 0xfb.toByte // MPEG-1, Layer III, no CRC
      b(off + 2) = ((bIdx << 4) | (sIdx << 2) | (pad << 1)).toByte
      b(off + 3) = ((((id + f) % 4) << 6)).toByte
      var k = 4
      while (k < flen) { b(off + k) = ((id + f + k) % 255).toByte; k += 1 }
      off += flen
      f += 1
    }
    MediaRow(id, "audio/mpeg", b)
  }

  /** Deterministic MIDI fixture per id: 1 + id%3 tracks, track t holds
    * 3 + (id+t)%6 notes; note i fires after delta (id·3 + t·5 + i·7)
    * mod 300 (values ≥ 128 force multi-byte VLQs on most rows) at key
    * (id + 2t + 11i) mod 128, velocity 1 + (id+i) mod 127, released
    * after (i·13 + t) mod 200 more ticks. Analytic — the oracle sums
    * ticks/keys/velocities straight from these formulas.
    */
  def syntheticMidi(id: Long): MediaRow = {
    val ntrks = 1 + (id % 3).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write("MThd".getBytes("US-ASCII"))
    Seq(0, 0, 0, 6, 0, 1, 0, ntrks, 1, 0xe0).foreach(out.write) // div 480
    var t = 0
    while (t < ntrks) {
      val track = new java.io.ByteArrayOutputStream()
      val saved = out
      val nNotes = 3 + ((id + t) % 6).toInt
      // write track body into a side buffer to learn its length
      val bodyOut = track
      def vlqB(x: Long): Unit = {
        var shift = 49
        while (shift > 0 && ((x >> shift) & 0x7f) == 0) shift -= 7
        while (shift > 0) { bodyOut.write((((x >> shift) & 0x7f) | 0x80).toInt); shift -= 7 }
        bodyOut.write((x & 0x7f).toInt)
      }
      var i2 = 0
      while (i2 < nNotes) {
        vlqB((id * 3 + t * 5 + i2 * 7) % 300)
        bodyOut.write(0x90); bodyOut.write(((id + 2 * t + 11 * i2) % 128).toInt)
        bodyOut.write((1 + (id + i2) % 127).toInt)
        vlqB((i2 * 13 + t) % 200)
        bodyOut.write(0x80); bodyOut.write(((id + 2 * t + 11 * i2) % 128).toInt)
        bodyOut.write(64)
        i2 += 1
      }
      vlqB(0L); bodyOut.write(0xff); bodyOut.write(0x2f); bodyOut.write(0x00)
      val body = track.toByteArray
      saved.write("MTrk".getBytes("US-ASCII"))
      saved.write((body.length >>> 24) & 0xff); saved.write((body.length >>> 16) & 0xff)
      saved.write((body.length >>> 8) & 0xff); saved.write(body.length & 0xff)
      saved.write(body)
      t += 1
    }
    MediaRow(id, "audio/midi", out.toByteArray)
  }

  /** Parsed OBJ mesh: vertex/face/edge counts, the Euler
    * characteristic V − E + F (a topological invariant — 1 for the
    * fan-triangulated disk fixtures — that any mis-parsed face index
    * perturbs), and exact coordinate sums.
    */
  final case class ObjStats(media_id: Long, n_vertices: Long, n_faces: Long,
                            n_edges: Long, euler: Long,
                            sx: Long, sy: Long, sz: Long)

  /** REAL decoder for Wavefront OBJ (the ubiquitous public 3D text
    * format): line-based parse of `v x y z` vertices and `f a b c`
    * triangles — `#` comments and blank lines skipped, `a/t/n`
    * index-suffix forms stripped per spec, 1-based indices validated
    * against the vertex count. Undirected edges are deduplicated
    * across faces (the mesh topology census). Malformed payloads fail
    * loudly.
    */
  def decodeObj(rows: Iterator[MediaRow]): Iterator[ObjStats] = rows.map { r =>
    val in = Payload(r)
    val text = new String(r.payload, "US-ASCII")
    var (nv, nf) = (0L, 0L)
    var (sx, sy, sz) = (0L, 0L, 0L)
    val edges = scala.collection.mutable.HashSet.empty[Long]
    text.split("\n").foreach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#")) {
        val parts = line.split("\\s+")
        parts(0) match {
          case "v" =>
            require(parts.length >= 4, s"short vertex line '$line': media ${r.media_id}")
            sx += in.number(parts(1), "vertex x")(_.toDouble).toLong
            sy += in.number(parts(2), "vertex y")(_.toDouble).toLong
            sz += in.number(parts(3), "vertex z")(_.toDouble).toLong
            nv += 1
          case "f" =>
            require(parts.length == 4, s"non-triangle face '$line': media ${r.media_id}")
            val idx = (1 to 3).map { k =>
              val i = in.number(parts(k).takeWhile(_ != '/'), "face index")(_.toLong) // strip /texture/normal
              require(i >= 1 && i <= nv,
                s"face index $i out of range (nv=$nv): media ${r.media_id}")
              i
            }
            require(idx.distinct.size == 3,
              s"degenerate face '$line': media ${r.media_id}")
            for (Seq(a, b) <- (idx :+ idx.head).sliding(2))
              edges += (math.min(a, b) << 32) | math.max(a, b)
            nf += 1
          case _ => // other OBJ records (vn, vt, o, g, usemtl...): skipped
        }
      }
    }
    ObjStats(r.media_id, nv, nf, edges.size.toLong,
      nv - edges.size + nf, sx, sy, sz)
  }

  /** Deterministic OBJ fixture per id: a TRIANGLE FAN over n = 4 +
    * id%6 vertices — vertex i (0-based) at integer coordinates
    * x = (id·7 + 3i) mod 997, y = (id·11 + 5i) mod 983, z = (id·13 +
    * 7i) mod 971; faces `f 1 i i+1`. Analytically: F = n−2, E = 2n−3,
    * Euler = 1 — the oracle computes every output WITHOUT parsing a
    * line. A comment line and one `vn` record exercise the skip paths.
    */
  def syntheticObj(id: Long): MediaRow = {
    val n = 4 + (id % 6).toInt
    val sb = new StringBuilder
    sb.append(s"# synthetic fan mesh $id\n")
    var i = 0
    while (i < n) {
      sb.append(s"v ${(id * 7 + 3 * i) % 997} ${(id * 11 + 5 * i) % 983} ${(id * 13 + 7 * i) % 971}\n")
      i += 1
    }
    sb.append("vn 0 0 1\n") // skipped record class
    var k = 2
    while (k < n) {
      sb.append(s"f 1 $k ${k + 1}\n")
      k += 1
    }
    MediaRow(id, "model/obj", sb.toString.getBytes("US-ASCII"))
  }

  /** Parsed µ-law stream: sample count, exact decoded-sample sum, and
    * the position-weighted sum Σ j·dec_j (the order witness).
    */
  final case class UlawStats(media_id: Long, n_samples: Long,
                             dec_sum: Long, wsum: Long)

  /** G.711 µ-law COMPRESS (the real telephony companding curve, public
    * ITU-T spec): clip |x| to 8159, bias by 132, find the segment
    * exponent (MSB position), keep a 4-bit mantissa, complement.
    */
  private def ulawEncode(x: Int): Int = {
    val sign = if (x < 0) 0x80 else 0
    var a = math.min(math.abs(x), 8159) + 132
    var e = 7
    var mask = 0x4000
    while ((a & mask) == 0 && e > 0) { e -= 1; mask >>= 1 }
    // e is now the MSB position − 7 (a ≥ 132 ⇒ bit 7 always set ⇒ e ≥ 0)
    val exp = e
    val mant = (a >> (exp + 3)) & 0x0f
    ~(sign | (exp << 4) | mant) & 0xff
  }

  /** G.711 µ-law EXPAND — the exact inverse curve: ((m·8 + 132) << e) −
    * 132, sign-applied.
    */
  private def ulawDecode(code: Int): Int = {
    val c = ~code & 0xff
    val exp = (c >> 4) & 0x07
    val mant = c & 0x0f
    val v = ((mant * 8 + 132) << exp) - 132
    if ((c & 0x80) != 0) -v else v
  }

  /** REAL decoder for a µ-law stream (`ULAW` magic + little-endian u32
    * sample count + one companded byte per sample): expand every byte
    * with the genuine G.711 curve and fold exact sums. Malformed
    * payloads fail loudly.
    */
  def decodeUlaw(rows: Iterator[MediaRow]): Iterator[UlawStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    require(in.ascii(0, 4, "ULAW magic") == "ULAW", s"not a ULAW payload: media ${r.media_id}")
    val n = in.u32le(4, "sample count")
    require(b.length == 8 + n, s"sample count $n does not match payload: media ${r.media_id}")
    var (ds, ws) = (0L, 0L)
    var j = 0
    while (j < n) {
      val d = ulawDecode(b(8 + j) & 0xff)
      ds += d; ws += j.toLong * d; j += 1
    }
    UlawStats(r.media_id, n, ds, ws)
  }

  /** Deterministic µ-law fixture per id: n = 6 + id%12 samples, sample
    * j = ((id·37 + j·13) mod 16001) − 8000, companded by the REAL
    * encoder above — the oracle reproduces expand(compress(s)) from
    * the analytic formula with pure CASE/integer arithmetic (the
    * companding curve is closed-form), never parsing a byte.
    */
  def syntheticUlaw(id: Long): MediaRow = {
    val n = 6 + (id % 12).toInt
    val out = new Array[Byte](8 + n)
    out(0) = 'U'; out(1) = 'L'; out(2) = 'A'; out(3) = 'W'
    out(4) = (n & 0xff).toByte; out(5) = ((n >> 8) & 0xff).toByte
    out(6) = ((n >> 16) & 0xff).toByte; out(7) = ((n >> 24) & 0xff).toByte
    var j = 0
    while (j < n) {
      val s = (((id * 37 + j * 13) % 16001) - 8000).toInt
      out(8 + j) = ulawEncode(s).toByte
      j += 1
    }
    MediaRow(id, "audio/basic", out)
  }

  /** Deterministic 24-bit BMP fixture per id: w = 1 + id%7 (strides
    * exercise all four padding widths), h = 1 + id%4, and the pixel at
    * IMAGE position p = y·w + x carries blue = (id·29 + 3p) mod 256,
    * green = (id·29 + 3p + 1) mod 256, red = (id·29 + 3p + 2) mod 256 —
    * analytic, so the oracle recomputes all sums WITHOUT parsing.
    * Scanlines are written bottom-up with 0x55 junk padding, so both
    * the row-order and the stride-skip paths are exercised on every
    * row.
    */
  def syntheticBmp(id: Long): MediaRow = {
    val w = 1 + (id % 7).toInt
    val h = 1 + (id % 4).toInt
    val rowSize = (3 * w + 3) & ~3
    val fileSize = 54 + rowSize * h
    val bb = java.nio.ByteBuffer.allocate(fileSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(fileSize)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      .putInt(0).putInt(rowSize * h).putInt(2835).putInt(2835)
      .putInt(0).putInt(0)
    var fr = 0
    while (fr < h) {
      val y = h - 1 - fr
      var x = 0
      while (x < w) {
        val p = y * w + x
        bb.put(((id * 29 + 3 * p) % 256).toByte)
          .put(((id * 29 + 3 * p + 1) % 256).toByte)
          .put(((id * 29 + 3 * p + 2) % 256).toByte)
        x += 1
      }
      var pad = 3 * w
      while (pad < rowSize) { bb.put(0x55.toByte); pad += 1 }
      fr += 1
    }
    MediaRow(id, "image/bmp", bb.array())
  }

  /** Audio perceptual fingerprint: 60-bit sign-of-energy-delta hash
    * (the Haitsma–Kalker 2002 audio-fingerprint shape, collapsed to one
    * band): samples split into 61 equal segments by the FORMULA
    * seg(j) = ⌊j·61/n⌋ (the one definition both engines compute — floor
    * boundaries and floor assignment disagree off-by-one otherwise),
    * per-segment energy E_k = Σ s², bit k = E_{k+1} > E_k. Robust to
    * gain-ish perturbations for the same reason dHash survives
    * brightness: adjacent COMPARISONS, not absolute values. 60 bits on
    * purpose — drops into [[Dedup.simhashPairs]]' chunk blocking, the
    * audio twin of [[decodePpmPhash]].
    */
  final case class WavAfp(media_id: Long, n_samples: Long, afp: Long)

  /** The VALIDATED RIFF walk both fingerprint decoders share (r17 —
    * ADVICE r16: the banded variant had re-implemented the walk minus
    * every guard, so malformed payloads raised index errors instead of
    * the contract message and a stereo/8-bit payload silently
    * fingerprinted; the walk now exists once): mono 16-bit PCM fmt
    * check, chunk-size overrun require, ≥ 61-sample floor, fmt-before-
    * data ordering. Returns (nSamp, the 61 segment energies).
    */
  private def wavSegmentEnergies(r: MediaRow): (Long, Array[Long]) = {
    val in = Payload(r)
    var seenFmt = false
    var nSamp = 0L
    val energies = new Array[Long](61)
    riffChunks(in).foreach {
      case ("fmt ", body, sz) =>
        require(sz >= 16 && in.u16le(body) == 1 && in.u16le(body + 2) == 1 && in.u16le(body + 14) == 16,
          s"audio fingerprint needs mono 16-bit PCM: media ${r.media_id}")
        seenFmt = true
      case ("data", body, sz) =>
        require(seenFmt, s"data chunk before fmt: media ${r.media_id}")
        nSamp = sz.toLong / 2
        require(nSamp >= 61, s"need >= 61 samples for the 61-segment hash: media ${r.media_id}")
        var j = 0L
        while (j < nSamp) {
          val v = in.u16le(body + 2 * j).toShort.toLong
          energies((j * 61 / nSamp).toInt) += v * v
          j += 1
        }
      case _ => // unknown chunk: skipped
    }
    require(nSamp > 0, s"no data chunk: media ${r.media_id}")
    (nSamp, energies)
  }

  /** The 60-bit sign-of-energy-delta hash over [[wavSegmentEnergies]]. */
  private def afpHash(energies: Array[Long]): Long = {
    var hash = 0L
    var k = 0
    while (k < 60) {
      if (energies(k + 1) > energies(k)) hash |= 1L << k
      k += 1
    }
    hash
  }

  /** REAL RIFF walk → 60-bit audio fingerprint (mono 16-bit PCM, ≥ 61
    * samples). Same loud-failure contract as [[decodeWav]].
    */
  def decodeWavAfp(rows: Iterator[MediaRow]): Iterator[WavAfp] = rows.map { r =>
    val (nSamp, energies) = wavSegmentEnergies(r)
    WavAfp(r.media_id, nSamp, afpHash(energies))
  }

  /** FNV-1a over a byte slice, masked non-negative — the content-digest
    * BLOCK KEY for the perceptual pair tiers. Any 64-bit digest works:
    * the band never appears in an output, only equality matters, and
    * digest equality ⟺ content equality at 2⁻⁶⁴ collision odds (the
    * repo-wide md5 convention: a collision is a loud mismatch).
    */
  private def fnv1a(b: Array[Byte], from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) { h ^= (b(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h & Long.MaxValue
  }

  final case class WavAfpB(media_id: Long, n_samples: Long, afp: Long, band: Long)

  /** [[decodeWavAfp]] plus the scalable block key: an FNV digest of the
    * first ELEVEN segment energies (bits 0–10's inputs — the prefix the
    * twin perturbation provably never touches). The r16 tier sweeps
    * showed any FIXED band space (the old afp%1024 over 256 n-values =
    * 262k blocks) makes the blocked self-join quadratic once the corpus
    * outgrows it; a content digest's cardinality grows WITH the corpus,
    * so Σ N_block² stays linear (distinct sources get distinct bands).
    */
  def decodeWavAfpBanded(rows: Iterator[MediaRow]): Iterator[WavAfpB] = rows.map { r =>
    // the shared VALIDATED walk (r17): same fmt/overrun/sample-floor
    // guards as decodeWavAfp — malformed payloads fail with the contract
    // message on both decoders, and the two can no longer drift
    val (nSamp, energies) = wavSegmentEnergies(r)
    // digest the 11 twin-invariant prefix energies (little-endian longs)
    val eb = java.nio.ByteBuffer.allocate(11 * 8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var s = 0
    while (s < 11) { eb.putLong(energies(s)); s += 1 }
    WavAfpB(r.media_id, nSamp, afpHash(energies), fnv1a(eb.array(), 0, 11 * 8))
  }

  /** Deterministic mono-WAV fixture WITH PLANTED NEAR-DUPS (the audio
    * twin of [[syntheticPpmPairs]]): per id, a base clip (media_id =
    * 2·id; n = 600 + id%256 samples, sample j = ((id·37 + j·13) mod
    * 4001) − 2000) and — for id % 4 = 0 — a twin (media_id = 2·id + 1)
    * with +3 on every 101st sample at j ≥ ⌊11n/61⌋, i.e. OUTSIDE
    * segments 0–10 — the twin's first eleven energies (hash bits 0–9,
    * the blocking band) are untouched while a handful of later-segment
    * comparisons may flip. Fully analytic for the oracle.
    */
  def syntheticWavPairs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id")).as[Long].flatMap { id =>
      val n = 600 + (id % 256).toInt
      def build(twin: Boolean): Array[Byte] = {
        val bb = java.nio.ByteBuffer.allocate(12 + 24 + 8 + 2 * n)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.put("RIFF".getBytes("US-ASCII")).putInt(4 + 24 + 8 + 2 * n)
          .put("WAVE".getBytes("US-ASCII"))
        bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
          .putShort(1).putShort(1).putInt(8000).putInt(16000).putShort(2).putShort(16)
        bb.put("data".getBytes("US-ASCII")).putInt(2 * n)
        var j = 0
        while (j < n) {
          val base = (id * 37 + j.toLong * 13) % 4001 - 2000
          val v = if (twin && j % 101 == 0 && j >= 11L * n / 61) base + 3 else base
          bb.putShort(v.toShort)
          j += 1
        }
        bb.array()
      }
      val rows = scala.collection.mutable.ArrayBuffer(
        MediaRow(2 * id, "audio/wav", build(twin = false)))
      if (id % 4 == 0) rows += MediaRow(2 * id + 1, "audio/wav", build(twin = true))
      rows
    }.toDF()
  }

  /** Parsed JPEG header facts (metadata-only decode — dimensions come
    * from the SOF segment without touching entropy-coded data, the way
    * real ingest sizes images without a full decode).
    */
  final case class JpegDims(media_id: Long, height: Int, width: Int,
                            n_components: Int, is_progressive: Boolean,
                            n_skipped: Int)

  /** REAL decoder for the JPEG marker stream (third public format —
    * big-endian segment walk, vs RIFF's little-endian chunk walk):
    * after SOI, each segment is FF-marker + u16 BE length (length
    * includes itself); walk and SKIP segments until a SOF0–SOF3 frame
    * header, then read precision / height / width / component count.
    * Malformed payloads (lost marker alignment, truncated segment,
    * length inconsistent with component count) fail loudly, like
    * [[decodePpm]] and [[decodeWav]].
    */
  def decodeJpegHeader(rows: Iterator[MediaRow]): Iterator[JpegDims] = rows.map { r =>
    val in = Payload(r)
    require(in.u16be(0, "SOI") == 0xffd8, s"not a JPEG (no SOI): media ${r.media_id}")
    @annotation.tailrec
    def walk(i: Int, skipped: Int): JpegDims = {
      require(i + 4 <= in.length, s"ran past payload before SOF: media ${r.media_id}")
      require(in.u8(i) == 0xff, s"marker alignment lost at byte $i: media ${r.media_id}")
      val m = in.u8(i + 1)
      val len = in.u16be(i + 2, "segment length")
      require(len >= 2 && i + 2 + len <= in.length,
        s"segment 0x${m.toHexString} length $len overruns payload: media ${r.media_id}")
      if (m >= 0xc0 && m <= 0xc3) {
        require(in.u8(i + 4) == 8, s"only 8-bit precision supported: media ${r.media_id}")
        val h = in.u16be(i + 5); val w = in.u16be(i + 7); val nc = in.u8(i + 9)
        require(len == 8 + 3 * nc,
          s"SOF length $len inconsistent with $nc components: media ${r.media_id}")
        JpegDims(r.media_id, h, w, nc, is_progressive = m == 0xc2, n_skipped = skipped)
      } else {
        require(m != 0xd8 && m != 0xd9, s"unexpected SOI/EOI before SOF: media ${r.media_id}")
        walk(i + 2 + len, skipped + 1)
      }
    }
    walk(2, 0)
  }

  /** Deterministic JPEG fixture per id: h = 16 + id%240, w = 32 +
    * id%200, components = 3 when id even else 1, baseline SOF0 except
    * progressive SOF2 when id%3 = 0; before the SOF sit a JFIF APP0, a
    * COM of 1 + id%9 bytes, and a second COM when id is odd — so the
    * variable-length skip path runs on every row and n_skipped =
    * 2 + id%2. Analytic, so the oracle recomputes every output WITHOUT
    * parsing a byte.
    */
  def syntheticJpeg(id: Long): MediaRow = {
    val h = 16 + (id % 240).toInt
    val w = 32 + (id % 200).toInt
    val nc = if (id % 2 == 0) 3 else 1
    val sof = if (id % 3 == 0) 0xc2 else 0xc0
    val m = 1 + (id % 9).toInt
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u8(0xff); u8(0xd8)                        // SOI
    u8(0xff); u8(0xe0); u16(16)               // APP0 JFIF
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1); u8(0); u16(1); u16(1); u8(0); u8(0)
    u8(0xff); u8(0xfe); u16(2 + m)            // COM, variable length
    (0 until m).foreach(j => u8('a' + ((id + j) % 26).toInt))
    if (id % 2 == 1) {                        // second COM for odd ids
      u8(0xff); u8(0xfe); u16(3); u8('z')
    }
    u8(0xff); u8(sof); u16(8 + 3 * nc)        // SOF0/SOF2
    u8(8); u16(h); u16(w); u8(nc)
    (0 until nc).foreach { c => u8(c + 1); u8(0x11); u8(0) }
    u8(0xff); u8(0xd9)                        // EOI
    MediaRow(id, "image/jpeg", out.toByteArray)
  }

  /** Perceptual fingerprint of a decoded raster: 60-bit difference hash
    * (dHash, the aHash/pHash family): sample an 11×6 grayscale grid by
    * nearest-neighbor (gx(c) = ⌊c·w/11⌋, gy(r) = ⌊r·h/6⌋, gray = r+g+b
    * — integer, no division), set bit r·10+c iff the cell right of
    * (c, r) is strictly brighter. Robust to exactly what byte hashes are
    * not: re-encoding, uniform brightness shift (adjacent COMPARISONS
    * survive a constant offset), small local edits. 60 bits on purpose —
    * the signature drops straight into [[Dedup.simhashPairs]]'s 15-bit
    * chunk pigeonhole blocking (hamming ≤ 3 ⇒ a chunk matches), the
    * image twin of the text near-dup tier.
    */
  final case class PpmPhash(media_id: Long, width: Int, height: Int, phash: Long)

  /** Parse a P6 header: returns (width, height, maxval, raster offset).
    * Shared by [[decodePpm]] and [[decodePpmPhash]].
    */
  private def parsePpmHeader(in: Payload): (Int, Int, Int, Int) = {
    val (b, mediaId) = (in.bytes, in.mediaId)
    require(in.ascii(0, 2, "P6 magic") == "P6", s"not a P6 PPM: media $mediaId")
    var i = 2
    def skipWsAndComments(): Unit = {
      var more = true
      while (more) {
        while (i < b.length && (b(i) == '\n' || b(i) == ' ' || b(i) == '\t' || b(i) == '\r')) i += 1
        if (i < b.length && b(i) == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else more = false
      }
    }
    def readInt(): Int = {
      skipWsAndComments()
      require(i < b.length && b(i) >= '0' && b(i) <= '9',
        s"bad PPM header at byte $i: media $mediaId")
      val from = i
      while (i < b.length && b(i) >= '0' && b(i) <= '9') i += 1
      in.number(new String(b, from, i - from, "US-ASCII"), s"PPM header field at byte $from")(_.toInt)
    }
    val w = readInt(); val h = readInt(); val mv = readInt()
    i += 1 // exactly ONE whitespace byte separates maxval from raster (spec)
    require(b.length - i >= w.toLong * h * 3, s"truncated PPM raster: media $mediaId")
    (w, h, mv, i)
  }

  /** REAL byte-level PPM parse → 60-bit dHash. Same loud-failure
    * contract and narrow mapPartitions seam as [[decodePpm]].
    */
  def decodePpmPhash(rows: Iterator[MediaRow]): Iterator[PpmPhash] = rows.map { r =>
    val in = Payload(r)
    val (w, h, _, off) = parsePpmHeader(in)
    PpmPhash(r.media_id, w, h, dHash(in, w, h, off))
  }

  /** The 60-bit dHash of the P6 raster at `off` (see [[PpmPhash]]). */
  private def dHash(in: Payload, w: Int, h: Int, off: Int): Long = {
    def gray(x: Int, y: Int): Int = {
      val j = off + 3L * (y.toLong * w + x)
      in.u8(j) + in.u8(j + 1) + in.u8(j + 2)
    }
    var hash = 0L
    var rr = 0
    while (rr < 6) {
      val y = rr * h / 6
      var c = 0
      while (c < 10) {
        if (gray((c + 1) * w / 11, y) > gray(c * w / 11, y))
          hash |= 1L << (rr * 10 + c)
        c += 1
      }
      rr += 1
    }
    hash
  }

  final case class PpmPhashB(media_id: Long, width: Int, height: Int,
                             phash: Long, band: Long)

  /** [[decodePpmPhash]] plus the scalable block key: an FNV digest of
    * the RAW ROW-0 BYTES — the top sampled row, which the twin
    * perturbation provably never touches (edits start at j ≥ 3w). The
    * old band (phash % 1024 = the 10 row-0 hash bits) lives in a FIXED
    * 2¹⁰ space: with 9×7 dimension values that is ≈64k blocks total,
    * and once the corpus outgrows it the blocked self-join is
    * quadratic (r16 tier-5 sweep: q_multimodal_dedup isolated norm
    * 18.13 at 50k→500k docs). A content digest's cardinality grows
    * with the distinct top rows, i.e. with the corpus — Σ N_block²
    * stays linear, and the semantic ("candidates agree on the top
    * sampled row") only gets STRICTER, exactly like a real image-dedup
    * pre-partition on a thumbnail band.
    */
  def decodePpmPhashBanded(rows: Iterator[MediaRow]): Iterator[PpmPhashB] = rows.map { r =>
    val b = r.payload
    val in = Payload(r)
    val (w, h, _, off) = parsePpmHeader(in)
    val phash = dHash(in, w, h, off)
    in.need(off, 3L * w, "PPM row 0")
    PpmPhashB(r.media_id, w, h, phash, fnv1a(b, off, off + 3 * w))
  }

  /** Deterministic P6 fixture WITH PLANTED NEAR-DUPS for the perceptual
    * tier: per source id, a base image (media_id = 2·id) and — for
    * id % 4 = 0 — a perturbed twin (media_id = 2·id + 1), mirroring
    * [[EntityResolution.dirtyRecords]]' clean/dirty construction so the
    * pair output stays LINEAR in the corpus (planted twins), never
    * quadratic (accidental identical content).
    *
    * Base: w = 12 + id%9, h = 8 + id%7 (≥ the 11×6 sampling grid);
    * pixel row 0 encodes the id's low 20 bits as 0/255 stripes
    * (byte j < 3w: 255·bit(⌊j/3⌋ % 20 of id)) — real photos are unique,
    * and the id row is what keeps accidental hash collisions rare;
    * remaining bytes follow (id·31 + j) mod 256. Twin: +8 mod 256 on
    * scattered bytes (j % 37 = 0) BELOW row 0 — a handful of grid cells
    * brighten slightly, so twins land a small Hamming distance from
    * their base while the id row (and hence the blocking band) is
    * untouched. Fully analytic: the oracle recomputes every hash bit
    * from this formula without parsing a byte.
    */
  def syntheticPpmPairs(docs: DataFrame, idCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id")).as[Long].flatMap { id =>
      val w = 12 + (id % 9).toInt
      val h = 8 + (id % 7).toInt
      val header = s"P6\n# synthetic-pair\n$w $h\n255\n".getBytes("US-ASCII")
      def base(j: Int): Int =
        if (j < 3 * w) (((id >> ((j / 3) % 20)) & 1L) * 255L).toInt
        else ((id * 31 + j) % 256).toInt
      val clean = Array.tabulate(w * h * 3)(j => base(j).toByte)
      val rows = scala.collection.mutable.ArrayBuffer(
        MediaRow(2 * id, "image/x-portable-pixmap", header ++ clean))
      if (id % 4 == 0) {
        val twin = Array.tabulate(w * h * 3) { j =>
          if (j >= 3 * w && j % 37 == 0) ((base(j) + 8) % 256).toByte else base(j).toByte
        }
        rows += MediaRow(2 * id + 1, "image/x-portable-pixmap", header ++ twin)
      }
      rows
    }.toDF()
  }

  /** Media NEAR-DUP candidate pairs over 60-bit perceptual hashes
    * (`hashCol`): block on `blockCols` composed into
    * [[Dedup.simhashPairs]]' 15-bit chunk pigeonhole join, verify exact
    * Hamming ≤ `maxHamming`. The block key is the documented web-scale
    * pre-partition (SCALE.md / simhashPairs blockCols): candidates only
    * form within a block — the Σ(N_block²)/2^15 bound instead of
    * N²/2^15, with block cardinality growing WITH the corpus (r16: the
    * old fixed band spaces — the low 10 phash bits, afp%1024 — went
    * quadratic once the corpus outgrew them). Semantics shrink
    * accordingly, mirrored definitionally in the oracles:
    *  - images, `phash` from [[decodePpmPhashBanded]] blocked on
    *    (width, height, band): same-looking images agree on dimensions
    *    and the top sampled row (row-0 equality = the fixture's (width,
    *    id low-20) pair);
    *  - audio, `afp` from [[decodeWavAfpBanded]] blocked on (n_samples,
    *    band): band equality ⟺ equality of the eleven prefix segment
    *    energies (at 2⁻⁶⁴ odds).
    */
  def nearDupPairs(hashes: DataFrame, hashCol: String, blockCols: Seq[String],
                   maxHamming: Int = 3): DataFrame =
    Dedup.simhashPairs(
      hashes.select((col("media_id").as("doc_id") +: blockCols.map(col)) :+
        col(hashCol).as("simhash"): _*),
      maxHamming, blockCols)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"), col("hamming"))

  /** Parsed GIF container facts (metadata-only frame census — frame
    * count, dimensions and total animation delay come from the block
    * walk WITHOUT LZW-decoding any raster, the way real video ingest
    * counts frames without decoding them).
    */
  final case class GifStats(media_id: Long, width: Int, height: Int,
                            n_frames: Int, total_delay_cs: Long,
                            n_extensions: Int)

  /** REAL decoder for the GIF89a block stream (fourth public format —
    * length-prefixed SUB-BLOCK chains, vs JPEG's u16-length segments
    * and RIFF's u32 chunks): header + logical screen descriptor
    * (little-endian u16 dims, global color table skipped by its packed
    * size), then a block walk — extensions (Graphic Control Extension
    * delays accumulated, others skipped sub-block by sub-block), image
    * descriptors (local color tables skipped, LZW data sub-blocks
    * skipped WITHOUT decoding, frames counted), trailer. Malformed
    * payloads fail loudly like the other three decoders.
    */
  def decodeGif(rows: Iterator[MediaRow]): Iterator[GifStats] = rows.map { r =>
    val in = Payload(r)
    in.need(0, 13, "GIF header")
    require(in.ascii(0, 6) == "GIF89a", s"not a GIF89a payload: media ${r.media_id}")
    val w = in.u16le(6); val h = in.u16le(8)
    val packed = in.u8(10)
    var i = 13
    if ((packed & 0x80) != 0) i += 3 * (1 << ((packed & 0x07) + 1)) // GCT
    var (frames, delay, exts) = (0, 0L, 0)
    def skipSubBlocks(): Unit = {
      var more = true
      while (more) {
        val len = in.u8(i, "sub-block length"); i += 1
        if (len == 0) more = false
        else {
          require(i + len <= in.length, s"sub-block overruns payload: media ${r.media_id}")
          i += len
        }
      }
    }
    var done = false
    while (!done) {
      in.u8(i, "block introducer") match {
        case 0x3b => done = true
        case 0x21 => // extension: label + sub-blocks
          val label = in.u8(i + 1, "extension label"); i += 2
          if (label == 0xf9) {
            require(in.u8(i) == 4, s"malformed GCE: media ${r.media_id}")
            delay += in.u16le(i + 2, "GCE delay") // centiseconds, LE
            i += 5 // block size byte + 4 payload bytes
            require(in.u8(i) == 0, s"GCE missing terminator: media ${r.media_id}")
            i += 1
          } else skipSubBlocks()
          exts += 1
        case 0x2c => // image descriptor
          val ipacked = in.u8(i + 9, "image descriptor"); i += 10
          if ((ipacked & 0x80) != 0) i += 3 * (1 << ((ipacked & 0x07) + 1)) // LCT
          in.need(i, 1, "LZW min code size")
          i += 1
          skipSubBlocks()
          frames += 1
        case x => throw new IllegalArgumentException(
          s"unknown GIF block 0x${x.toHexString} at byte $i: media ${r.media_id}")
      }
    }
    GifStats(r.media_id, w, h, frames, delay, exts)
  }

  /** Deterministic GIF89a fixture per id: w = 10 + id%50, h = 5 +
    * id%30, frames = 1 + id%5 each preceded by a GCE with delay
    * 2 + (id+f)%10 cs; a global color table (2^(1 + id%3) entries) when
    * id is even, a per-frame LOCAL color table (2 entries) when id%5 =
    * 0, a COMMENT extension when id%3 = 0 (so n_extensions = frames +
    * [id%3=0]), and formula raster sub-blocks of 1 + (id+f)%7 bytes the
    * parser must skip without decoding. Analytic, so the oracle
    * recomputes every output WITHOUT parsing a byte.
    */
  def syntheticGif(id: Long): MediaRow = {
    val w = 10 + (id % 50).toInt
    val h = 5 + (id % 30).toInt
    val frames = 1 + (id % 5).toInt
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) } // little-endian
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(w); u16(h)
    val gctBits = (id % 3).toInt // GCT size field when present
    u8(if (id % 2 == 0) 0x80 | gctBits else 0x00)
    u8(0); u8(0) // bg color, aspect
    if (id % 2 == 0) (0 until 3 * (1 << (gctBits + 1)))
      .foreach(j => u8(((id + j) % 256).toInt))
    if (id % 3 == 0) { // comment extension, two sub-blocks
      u8(0x21); u8(0xfe)
      u8(3); u8('h'); u8('i'); u8('!')
      u8(1); u8('.')
      u8(0)
    }
    (0 until frames).foreach { f =>
      u8(0x21); u8(0xf9); u8(4) // GCE
      u8(0); u16(2 + ((id + f) % 10).toInt); u8(0); u8(0)
      u8(0x2c) // image descriptor
      u16(0); u16(0); u16(w); u16(h)
      val lct = id % 5 == 0
      u8(if (lct) 0x80 else 0x00) // LCT size field 0 -> 2 entries
      if (lct) (0 until 6).foreach(j => u8(((id * 7 + j) % 256).toInt))
      u8(2) // LZW min code size
      val dlen = 1 + ((id + f) % 7).toInt
      u8(dlen); (0 until dlen).foreach(j => u8(((id + f + j) % 256).toInt))
      u8(0) // sub-block terminator
    }
    u8(0x3b)
    MediaRow(id, "image/gif", out.toByteArray)
  }

  /** PNG full-decode stats: dimensions + raster aggregates + the
    * per-scanline filter census (proof the reconstruction actually ran
    * through each filter path, not just the chunk walk).
    */
  final case class PngStats(media_id: Long, width: Int, height: Int,
                            bit_depth: Int, color_type: Int,
                            raster_sum: Long, n_bright: Long,
                            n_none: Int, n_sub: Int, n_up: Int,
                            n_avg: Int, n_paeth: Int)

  /** REAL PNG decoder — the fifth container format and the first with
    * a genuine COMPRESSED payload: signature check, chunk walk with
    * CRC-32 verified on EVERY chunk (type+data, per the spec), IHDR
    * big-endian parse, multi-IDAT concatenation, actual zlib INFLATE
    * (`java.util.zip.Inflater` — no stub), then scanline-by-scanline
    * reconstruction of all five filter types (None/Sub/Up/Average/
    * Paeth, bpp = 1 for 8-bit grayscale). Malformed payloads — bad
    * signature, CRC mismatch, short inflate, unknown filter — fail
    * loudly like the other four decoders. Reference analogue: the S3
    * object-get binary seam (adapters/s3/src/index.ts:156-178); the
    * decode itself is public-spec PNG (RFC 2083).
    */
  def decodePng(rows: Iterator[MediaRow]): Iterator[PngStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    val sig = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
    require((0 until 8).forall(j => in.u8(j, "signature") == sig(j)),
      s"not a PNG (bad signature): media ${r.media_id}")
    var i = 8
    var (w, h, depth, ctype) = (0, 0, -1, -1)
    val idat = new java.io.ByteArrayOutputStream()
    var ended = false
    while (!ended) {
      val lenL = in.u32be(i, "chunk length")
      val typ = in.ascii(i + 4, 4, "chunk type")
      require(lenL <= in.length - i - 12L,
        s"chunk $typ length $lenL overruns payload: media ${r.media_id}")
      val len = lenL.toInt
      val crc = new java.util.zip.CRC32()
      crc.update(b, i + 4, 4 + len)
      require(crc.getValue == in.u32be(i + 8 + len),
        s"CRC mismatch in $typ: media ${r.media_id}")
      typ match {
        case "IHDR" =>
          require(len == 13, s"IHDR length $len: media ${r.media_id}")
          w = in.u32be(i + 8).toInt; h = in.u32be(i + 12).toInt
          depth = in.u8(i + 16); ctype = in.u8(i + 17)
          require(in.u8(i + 18) == 0 && in.u8(i + 19) == 0 && in.u8(i + 20) == 0,
            s"unsupported compression/filter/interlace: media ${r.media_id}")
          require(depth == 8 && ctype == 0,
            s"only 8-bit grayscale supported: media ${r.media_id}")
        case "IDAT" => idat.write(b, i + 8, len)
        case "IEND" =>
          require(len == 0, s"IEND with data: media ${r.media_id}")
          ended = true
        case other => throw new IllegalArgumentException(
          s"unknown chunk $other: media ${r.media_id}")
      }
      i += 12 + len
    }
    require(i == b.length, s"trailing bytes after IEND: media ${r.media_id}")
    require(w > 0 && h > 0, s"IHDR missing or empty image: media ${r.media_id}")
    // real zlib inflate of the concatenated IDAT stream
    val size = h.toLong * (w + 1)
    require(size <= Int.MaxValue, s"IHDR ${w}x$h exceeds a 2 GiB raster: media ${r.media_id}")
    val (filt, _) = inflateAll(new java.util.zip.Inflater(), idat.toByteArray, 0, idat.size,
      size, s"IDAT: media ${r.media_id}")
    require(filt.length == size,
      s"inflate produced ${filt.length} of $size bytes: media ${r.media_id}")
    // scanline reconstruction, bpp = 1
    def paeth(a: Int, up: Int, c: Int): Int = {
      val p = a + up - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - up), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
    }
    val recon = Array.ofDim[Int](h, w)
    val fCount = new Array[Int](5)
    var (rasterSum, nBright) = (0L, 0L)
    var y = 0
    while (y < h) {
      val f = filt(y * (w + 1)) & 0xff
      require(f <= 4, s"unknown filter $f on row $y: media ${r.media_id}")
      fCount(f) += 1
      var x = 0
      while (x < w) {
        val enc = filt(y * (w + 1) + 1 + x) & 0xff
        val left = if (x > 0) recon(y)(x - 1) else 0
        val up = if (y > 0) recon(y - 1)(x) else 0
        val ul = if (x > 0 && y > 0) recon(y - 1)(x - 1) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        val v = (enc + pred) & 0xff
        recon(y)(x) = v
        rasterSum += v
        if (v > 127) nBright += 1
        x += 1
      }
      y += 1
    }
    PngStats(r.media_id, w, h, depth, ctype, rasterSum, nBright,
      fCount(0), fCount(1), fCount(2), fCount(3), fCount(4))
  }

  /** Deterministic PNG fixture per id: 8-bit grayscale, w = 8 + id%9,
    * h = 6 + id%7, pixel k (row-major) = (id·31 + k) mod 256, scanline
    * y filtered with type y mod 5 — every filter path runs on every
    * image taller than 4 rows (h ≥ 6 always). The filtered stream is
    * REALLY deflated (`java.util.zip.Deflater`) and split into ≤64-byte
    * IDAT chunks so the decoder exercises multi-chunk reassembly; every
    * chunk carries its true CRC-32. Raster formula is analytic, so the
    * oracle recomputes width/height/raster_sum/n_bright and the filter
    * census WITHOUT touching a byte — compressed bytes never need to be
    * bit-stable across JVMs because only decoded stats leave the engine.
    */
  def syntheticPng(id: Long): MediaRow = {
    val w = 8 + (id % 9).toInt
    val h = 6 + (id % 7).toInt
    def raw(x: Int, y: Int): Int = ((id * 31 + y * w + x) % 256).toInt
    def paeth(a: Int, up: Int, c: Int): Int = {
      val p = a + up - c
      val (pa, pb, pc) = (math.abs(p - a), math.abs(p - up), math.abs(p - c))
      if (pa <= pb && pa <= pc) a else if (pb <= pc) up else c
    }
    val filt = new Array[Byte](h * (w + 1))
    (0 until h).foreach { y =>
      val f = y % 5
      filt(y * (w + 1)) = f.toByte
      (0 until w).foreach { x =>
        val left = if (x > 0) raw(x - 1, y) else 0
        val up = if (y > 0) raw(x, y - 1) else 0
        val ul = if (x > 0 && y > 0) raw(x - 1, y - 1) else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
        }
        filt(y * (w + 1) + 1 + x) = ((raw(x, y) - pred) & 0xff).toByte
      }
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(filt); defl.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](256)
    while (!defl.finished()) zbuf.write(tmp, 0, defl.deflate(tmp))
    defl.end()
    val z = zbuf.toByteArray
    val out = new java.io.ByteArrayOutputStream()
    def u32(v: Long): Unit = (3 to 0 by -1)
      .foreach(s => out.write(((v >> (8 * s)) & 0xff).toInt))
    def chunk(typ: String, data: Array[Byte]): Unit = {
      val tb = typ.getBytes("US-ASCII")
      u32(data.length.toLong)
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb); out.write(data); u32(crc.getValue)
    }
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).foreach(out.write)
    val ihdr = new java.io.ByteArrayOutputStream()
    (3 to 0 by -1).foreach(s => ihdr.write((w >> (8 * s)) & 0xff))
    (3 to 0 by -1).foreach(s => ihdr.write((h >> (8 * s)) & 0xff))
    ihdr.write(8); ihdr.write(0); ihdr.write(0); ihdr.write(0); ihdr.write(0)
    chunk("IHDR", ihdr.toByteArray)
    z.grouped(64).foreach(part => chunk("IDAT", part))
    chunk("IEND", Array.emptyByteArray)
    MediaRow(id, "image/png", out.toByteArray)
  }

  /** Tar-archive member census: the WebDataset-shard audit. */
  final case class TarStats(media_id: Long, n_files: Int, n_dirs: Int,
                            total_bytes: Long, max_bytes: Long,
                            content_sum: Long, archive_bytes: Long)

  /** REAL USTAR tar walker — the SEVENTH container format and the one
    * LLM multimodal pipelines actually shard into (WebDataset = tar of
    * samples): 512-byte header blocks with magic + CHECKSUM verified
    * (sum of header bytes with the chksum field read as spaces), octal
    * size/typeflag parse, payload blocks read (content byte sum proves
    * the member bodies were actually visited, not skipped), 512-padding
    * arithmetic, two-zero-block trailer required. Malformed payloads —
    * bad magic, checksum mismatch, truncated member, missing trailer —
    * fail loudly like the other six decoders.
    */
  def decodeTar(rows: Iterator[MediaRow]): Iterator[TarStats] = rows.map { r =>
    val entries = tarEntries(r)
    val files = entries.filter(_.typeflag != '5')
    var contentSum = 0L
    files.foreach { e =>
      (e.body until e.body + e.size.toInt).foreach(j => contentSum += r.payload(j) & 0xff)
    }
    val sizes = files.map(_.size)
    TarStats(r.media_id, files.size, entries.size - files.size, sizes.sum,
      (0L +: sizes).max, contentSum, r.payload.length.toLong)
  }

  /** Inflate `b(off until off + len)` with `inf` (which this ends) and
    * return the output and the input bytes consumed. The buffer grows
    * with what inflate PRODUCES, never with a declared (untrusted) size,
    * and the loop stops once output passes `limit` — the caller compares
    * the length it expected. Corrupt deflate data (zlib's
    * DataFormatException) and a stalled stream fail as a named
    * IllegalArgumentException about `what` (the member and media id). */
  private def inflateAll(inf: java.util.zip.Inflater, b: Array[Byte], off: Int, len: Int,
                         limit: Long, what: String): (Array[Byte], Int) = {
    val acc = new java.io.ByteArrayOutputStream()
    try {
      inf.setInput(b, off, len)
      val buf = new Array[Byte](4096)
      while (!inf.finished() && acc.size <= limit) {
        val n = try inf.inflate(buf) catch {
          case e: java.util.zip.DataFormatException =>
            throw new IllegalArgumentException(
              s"inflate failed on corrupt data in $what: ${e.getMessage}", e)
        }
        require(n > 0 || inf.finished(), s"inflate stalled at ${acc.size} bytes in $what")
        acc.write(buf, 0, n)
      }
      (acc.toByteArray, len - inf.getRemaining)
    } finally inf.end()
  }

  /** One verified USTAR header: name, octal size, typeflag and the
    * offset of the member's first body byte.
    */
  private final case class TarEntry(name: String, size: Long, typeflag: Char, body: Int)

  /** The one validated tar walk behind [[decodeTar]] and
    * [[decodeTarMembers]]: every header in archive order, with magic,
    * checksum, member bounds and the two-zero-block trailer checked.
    */
  private def tarEntries(r: MediaRow): Seq[TarEntry] = {
    val in = Payload(r)
    val b = r.payload
    require(b.length % 512 == 0, s"tar not 512-aligned: media ${r.media_id}")
    def octal(off: Int, len: Int, field: String, member: String): Long = {
      val s = in.ascii(off, len, field).takeWhile(c => c != 0 && c != ' ')
      if (s.isEmpty) 0L
      else in.number(s, s"octal $field in member '$member'")(java.lang.Long.parseLong(_, 8))
    }
    val out = Vector.newBuilder[TarEntry]
    var i = 0
    var done = false
    while (!done) {
      in.need(i, 512, "tar header block")
      if (b(i) == 0) {
        // trailer: two zero blocks then end
        require(i + 1024 == b.length && (i until i + 1024).forall(j => b(j) == 0),
          s"malformed trailer at block ${i / 512}: media ${r.media_id}")
        done = true
      } else {
        require(in.ascii(i + 257, 5) == "ustar",
          s"bad ustar magic at block ${i / 512}: media ${r.media_id}")
        val name = in.ascii(i, 100).takeWhile(_ != 0)
        val stored = octal(i + 148, 8, "checksum", name)
        val actual = (i until i + 512).map { j =>
          if (j >= i + 148 && j < i + 156) ' '.toLong else (b(j) & 0xff).toLong
        }.sum
        require(stored == actual,
          s"header checksum $actual != $stored: media ${r.media_id}")
        val size = octal(i + 124, 12, "size", name)
        // a signed size moves the cursor back, or in [-1534, -1023] not at all
        require(size >= 0, s"negative member size $size: media ${r.media_id}")
        val end = i + 512 + (size + 511) / 512 * 512
        require(end <= b.length, s"member overruns archive: media ${r.media_id}")
        out += TarEntry(name, size, b(i + 156).toChar, i + 512)
        i = end.toInt
      }
    }
    out.result()
  }

  /** One tar member (file entries only). */
  final case class TarMember(media_id: Long, name: String, size: Long)

  /** The member RELATION variant of [[decodeTar]]: the same verified
    * walk, emitting one row per file member so WebDataset SAMPLE
    * ASSEMBLY — grouping `dir/key.ext` members into training samples —
    * runs as a plain Spark groupBy downstream, not inside the decoder.
    */
  def decodeTarMembers(rows: Iterator[MediaRow]): Iterator[TarMember] =
    rows.flatMap { r =>
      tarEntries(r).collect {
        case e if e.typeflag != '5' => TarMember(r.media_id, e.name, e.size)
      }
    }

  /** Build one checksummed 512-byte USTAR header block. */
  private def ustarHeader(name: String, size: Long, typeflag: Char): Array[Byte] = {
    val h = new Array[Byte](512)
    def put(off: Int, s: String): Unit =
      s.getBytes("US-ASCII").zipWithIndex.foreach { case (c, j) => h(off + j) = c }
    put(0, name)
    put(100, "0000644"); put(108, "0000000"); put(116, "0000000")
    put(124, "%011o".format(size)); put(136, "%011o".format(0))
    h(156) = typeflag.toByte
    put(257, "ustar"); put(263, "00")
    (148 until 156).foreach(j => h(j) = ' ')
    val sum = h.map(_ & 0xff).sum
    put(148, "%06o".format(sum)); h(154) = 0; h(155) = ' '
    h
  }

  /** Deterministic USTAR fixture per id (a WebDataset-style shard): one
    * directory entry "<id>/" then m = 2 + id%5 members
    * "<id>/sample<i>.txt" of size 10 + (id + 13i)%300 with byte j =
    * (id + i + j)%256. Headers carry true checksums; the archive ends
    * with the required two zero blocks, so archive_bytes =
    * 512·(1 + Σ(1 + ⌈size_i/512⌉)) + 1024 — analytic, like every stat.
    */
  def syntheticTar(id: Long): MediaRow = {
    val m = 2 + (id % 5).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(ustarHeader(s"$id/", 0L, '5'))
    (0 until m).foreach { i =>
      val size = 10 + ((id + 13 * i) % 300).toInt
      out.write(ustarHeader(s"$id/sample$i.txt", size.toLong, '0'))
      val data = new Array[Byte]((size + 511) / 512 * 512)
      (0 until size).foreach(j => data(j) = ((id + i + j) % 256).toByte)
      out.write(data)
    }
    out.write(new Array[Byte](1024))
    MediaRow(id, "application/x-tar", out.toByteArray)
  }

  /** WebDataset-style fixture: m = 2 + id%5 samples, each a
    * (sample<i>.txt, sample<i>.cls) pair — except the LAST sample,
    * whose .cls is deliberately missing (the incomplete-sample case an
    * assembly audit exists to catch). txt size = 10 + (id + 13i)%300,
    * cls size = 1 + (id + i)%9.
    */
  def syntheticWds(id: Long): MediaRow = {
    val m = 2 + (id % 5).toInt
    val out = new java.io.ByteArrayOutputStream()
    out.write(ustarHeader(s"$id/", 0L, '5'))
    def member(name: String, size: Int): Unit = {
      out.write(ustarHeader(name, size.toLong, '0'))
      val data = new Array[Byte]((size + 511) / 512 * 512)
      (0 until size).foreach(j => data(j) = ((id + j) % 256).toByte)
      out.write(data)
    }
    (0 until m).foreach { i =>
      member(s"$id/sample$i.txt", 10 + ((id + 13 * i) % 300).toInt)
      if (i < m - 1) member(s"$id/sample$i.cls", 1 + ((id + i) % 9).toInt)
    }
    out.write(new Array[Byte](1024))
    MediaRow(id, "application/x-tar", out.toByteArray)
  }

  /** SRT caption-track stats: cue census + duration/gap audit — the
    * transcript-side pass a video ingest runs next to frame sampling.
    */
  final case class SrtStats(media_id: Long, n_cues: Int, total_dur_ms: Long,
                            total_chars: Long, max_gap_ms: Long,
                            first_start_ms: Long, last_end_ms: Long)

  private val srtTime =
    """(\d\d):(\d\d):(\d\d),(\d\d\d) --> (\d\d):(\d\d):(\d\d),(\d\d\d)""".r

  /** REAL SRT (SubRip) parser — the sixth container format and the
    * caption/transcript path of a video pipeline: blank-line block
    * split, sequential cue-index validation, HH:MM:SS,mmm timecode
    * parse back to milliseconds, end>start and monotonic-non-overlap
    * checks, text length census, inter-cue gap audit. Malformed
    * payloads (bad index order, bad timecode, overlapping cues) fail
    * loudly like the other five decoders.
    */
  def decodeSrt(rows: Iterator[MediaRow]): Iterator[SrtStats] = rows.map { r =>
    val in = Payload(r)
    val s = new String(r.payload, "UTF-8")
    val blocks = s.split("\r?\n\r?\n").filter(_.trim.nonEmpty)
    require(blocks.nonEmpty, s"empty SRT: media ${r.media_id}")
    var (prevEnd, firstStart, lastEnd) = (-1L, -1L, -1L)
    var (totalDur, totalChars, maxGap) = (0L, 0L, 0L)
    blocks.zipWithIndex.foreach { case (blk, pos) =>
      val lines = blk.split("\r?\n")
      require(lines.length >= 3, s"cue ${pos + 1} too short: media ${r.media_id}")
      require(in.number(lines(0).trim, "cue index")(_.toInt) == pos + 1,
        s"cue index ${lines(0).trim} at position ${pos + 1}: media ${r.media_id}")
      val (st, en) = lines(1).trim match {
        case srtTime(h1, m1, s1, ms1, h2, m2, s2, ms2) =>
          def ms(h: String, m: String, sec: String, milli: String): Long = {
            def n(f: String): Long = in.number(f, "timecode field")(_.toLong)
            n(h) * 3600000L + n(m) * 60000L + n(sec) * 1000L + n(milli)
          }
          (ms(h1, m1, s1, ms1), ms(h2, m2, s2, ms2))
        case other => throw new IllegalArgumentException(
          s"bad timecode line '$other': media ${r.media_id}")
      }
      require(en > st, s"cue ${pos + 1} non-positive duration: media ${r.media_id}")
      require(st >= prevEnd, s"cue ${pos + 1} overlaps previous: media ${r.media_id}")
      if (firstStart < 0) firstStart = st
      else maxGap = math.max(maxGap, st - prevEnd)
      prevEnd = en; lastEnd = en
      totalDur += en - st
      totalChars += lines.drop(2).map(_.length.toLong).sum
    }
    SrtStats(r.media_id, blocks.length, totalDur, totalChars, maxGap,
      firstStart, lastEnd)
  }

  /** Deterministic SRT fixture per id: n = 2 + id%6 cues; cue i starts
    * at i·3000 + id%700 ms and lasts 800 + (id + 37i)%1500 ms (max
    * 2299 < 3000 ⇒ never overlaps), text = "cue <id>-<i> word<(id+i)%20>".
    * Analytic, so the oracle recomputes every stat — including text
    * lengths via decimal-digit-count arithmetic — WITHOUT parsing.
    */
  def syntheticSrt(id: Long): MediaRow = {
    val n = 2 + (id % 6).toInt
    def fmt(ms: Long): String = "%02d:%02d:%02d,%03d".format(
      ms / 3600000, ms / 60000 % 60, ms / 1000 % 60, ms % 1000)
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      val st = i * 3000L + id % 700
      val en = st + 800L + (id + 37L * i) % 1500
      sb.append(i + 1).append('\n')
        .append(fmt(st)).append(" --> ").append(fmt(en)).append('\n')
        .append(s"cue $id-$i word${(id + i) % 20}").append("\n\n")
    }
    MediaRow(id, "application/x-subrip", sb.toString.getBytes("UTF-8"))
  }

  /** STUB "resize": deterministic byte-level downsample — keep every
    * `stride`-th byte of the payload (a real implementation decodes and
    * rescales pixels here; the plumbing — binary in, smaller binary out,
    * pure in-plan expression, no driver round-trip — is the production
    * shape). Exactly oracle-checkable since payloads are text bytes.
    */
  def resizeStub(media: DataFrame, stride: Int): DataFrame =
    media.withColumn("resized",
      expr(s"""filter(transform(sequence(1, length(payload)),
              |  i -> IF((i - 1) % $stride = 0, substring(payload, i, 1), null)),
              |  x -> x IS NOT NULL)""".stripMargin)
        .cast("array<string>"))
      .withColumn("resized", concat_ws("", col("resized")).cast("binary"))
      .select(col("media_id"), col("mime"),
        length(col("payload")).as("orig_bytes"),
        length(col("resized")).as("resized_bytes"),
        col("resized"))

  /** Frame sampling: slice the payload into fixed-size frames and keep
    * every `stride`-th — in-plan binary arithmetic (posexplode over a
    * computed index range), the shape video frame-extraction takes
    * before a decoder sees each frame.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media
      .withColumn("n_frames",
        ceil(length(col("payload")).cast("double") / frameBytes).cast("int"))
      .withColumn("frame_idx",
        explode(filter(sequence(lit(0), col("n_frames") - 1), i => i % stride === 0)))
      .withColumn("frame",
        expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)"))
      .select(col("media_id"), col("frame_idx"), col("frame"))

  /** One MP4 track row: file-level facts (brand, movie header, top-box
    * census) repeated per track — the RELATION shape (like
    * [[TarMember]]) so the per-file census is a plain Spark groupBy
    * downstream, where it belongs.
    */
  final case class Mp4Track(media_id: Long, brand: String,
                            mv_timescale: Long, mv_duration: Long,
                            n_top_boxes: Int, track_id: Long,
                            handler: String, codec: String,
                            tk_duration: Long, md_timescale: Long,
                            md_duration: Long, lang: String)

  /** REAL ISO-BMFF (MP4) box walker — the container a multimodal video
    * ingest reads FIRST, and the sixteenth byte-level format here. New
    * wrinkle vs the flat GIF/RIFF/tar walks: boxes NEST (moov → trak →
    * mdia → minf → stbl), sizes are big-endian u32 with two escapes
    * (size 1 → u64 largesize follows the fourcc; size 0 → box runs to
    * the end of its container), and header boxes are version-switched
    * (mvhd/tkhd/mdhd v0 = 32-bit times, v1 = 64-bit). The walk verifies
    * every box header (printable fourcc, size ≥ 8 or a legal escape,
    * no overrun of the ENCLOSING box), descends only known containers,
    * skips unknown boxes by size without reading their bodies (mdat is
    * never touched), and extracts the per-track census: tkhd id +
    * duration (movie units), mdhd timescale + duration + packed 5-bit
    * language, hdlr handler type, and the first stsd sample-entry
    * fourcc as the codec. Malformed payloads fail loudly like every
    * other decoder in this file. Spec: Mp4Spec.
    */
  def decodeMp4(rows: Iterator[MediaRow]): Iterator[Mp4Track] = rows.flatMap { r =>
    val in = Payload(r)
    def printableFourcc(i: Int): String = {
      (i until i + 4).foreach { j =>
        val c = in.u8(j, "fourcc")
        require(c >= 0x20 && c <= 0x7e,
          s"bad fourcc byte 0x${c.toHexString} at $j: media ${r.media_id}")
      }
      in.ascii(i, 4)
    }
    /** All child boxes of [start, end) as (type, bodyStart, bodyEnd). */
    def boxes(start: Int, end: Int): Seq[(String, Int, Int)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
      var i = start
      while (i < end) {
        require(i + 8 <= end, s"truncated box header at byte $i: media ${r.media_id}")
        val sz = in.u32be(i, "box size")
        val typ = printableFourcc(i + 4)
        val (bodyStart, boxEnd) =
          if (sz == 0) (i + 8, end) // runs to the end of the container
          else if (sz == 1) {
            require(i + 16 <= end, s"truncated largesize for '$typ': media ${r.media_id}")
            val lsz = in.u64be(i + 8, "box largesize")
            require(lsz >= 16, s"largesize $lsz < 16 for '$typ': media ${r.media_id}")
            require(i + lsz <= end, s"'$typ' largesize overruns container: media ${r.media_id}")
            (i + 16, (i + lsz).toInt)
          } else {
            require(sz >= 8, s"box size $sz < 8 for '$typ' at byte $i: media ${r.media_id}")
            require(i + sz <= end, s"'$typ' (size $sz) overruns container: media ${r.media_id}")
            (i + 8, (i + sz).toInt)
          }
        out += ((typ, bodyStart, boxEnd))
        i = boxEnd
      }
      out.toSeq
    }
    def find(kids: Seq[(String, Int, Int)], typ: String): (Int, Int) =
      kids.collectFirst { case (`typ`, s, e) => (s, e) }.getOrElse(
        throw new IllegalArgumentException(s"no '$typ' box: media ${r.media_id}"))

    val top = boxes(0, in.length)
    val (fs, fe) = find(top, "ftyp")
    require(fe - fs >= 8, s"ftyp too short: media ${r.media_id}")
    val brand = printableFourcc(fs)
    val (ms, me) = find(top, "moov")
    val moovKids = boxes(ms, me)
    val (mvS, _) = find(moovKids, "mvhd")
    val (mvTs, mvDur) = in.u8(mvS) match {
      case 1 => (in.u32be(mvS + 20), in.u64be(mvS + 24)) // v1: u64 times
      case 0 => (in.u32be(mvS + 12), in.u32be(mvS + 16)) // v0: u32 times
      case v => throw new IllegalArgumentException(
        s"unknown mvhd version $v: media ${r.media_id}")
    }
    val traks = moovKids.collect { case ("trak", s, e) => (s, e) }
    require(traks.nonEmpty, s"moov has no trak: media ${r.media_id}")
    traks.map { case (ts0, te0) =>
      val kids = boxes(ts0, te0)
      val (tkS, _) = find(kids, "tkhd")
      val (tkId, tkDur) = in.u8(tkS) match {
        case 1 => (in.u32be(tkS + 20), in.u64be(tkS + 28))
        case 0 => (in.u32be(tkS + 12), in.u32be(tkS + 20))
        case v => throw new IllegalArgumentException(
          s"unknown tkhd version $v: media ${r.media_id}")
      }
      val (mdiaS, mdiaE) = find(kids, "mdia")
      val mdiaKids = boxes(mdiaS, mdiaE)
      val (mdS, _) = find(mdiaKids, "mdhd")
      val (mdTs, mdDur, langOff) = in.u8(mdS) match {
        case 1 => (in.u32be(mdS + 20), in.u64be(mdS + 24), mdS + 32)
        case 0 => (in.u32be(mdS + 12), in.u32be(mdS + 16), mdS + 20)
        case v => throw new IllegalArgumentException(
          s"unknown mdhd version $v: media ${r.media_id}")
      }
      require(mdTs != 0, s"mdhd timescale is zero: media ${r.media_id}")
      val packed = in.u16be(langOff)
      val lang = new String(Array(
        (((packed >> 10) & 0x1f) + 0x60).toChar,
        (((packed >> 5) & 0x1f) + 0x60).toChar,
        ((packed & 0x1f) + 0x60).toChar))
      val (hdS, _) = find(mdiaKids, "hdlr")
      val handler = printableFourcc(hdS + 8) // version/flags(4) + pre_defined(4)
      val (minfS, minfE) = find(mdiaKids, "minf")
      val (stblS, stblE) = find(boxes(minfS, minfE), "stbl")
      val (stsdS, stsdE) = find(boxes(stblS, stblE), "stsd")
      require(in.u32be(stsdS + 4) >= 1, s"stsd has no sample entry: media ${r.media_id}")
      require(stsdE - stsdS >= 16, s"stsd too short: media ${r.media_id}")
      val codec = printableFourcc(stsdS + 12) // v/f(4) + entry_count(4) + entry size(4)
      Mp4Track(r.media_id, brand, mvTs, mvDur, top.length, tkId,
        handler, codec, tkDur, mdTs, mdDur, lang)
    }
  }

  /** Deterministic ISO-BMFF fixture per id, every stat analytic so the
    * oracle recomputes the whole track relation WITHOUT parsing a byte:
    * brand isom/mp42 by id parity; movie timescale 600·(1 + id%3),
    * duration 500 + id%100000; 1 + id%3 tracks — track t is vide/avc1
    * on even t, soun/mp4a on odd, tkhd duration 200 + (3id+7t)%40000,
    * mdhd timescale 1000·(1 + (id+t)%4), duration 100 + (7id+11t)%500000,
    * language chr(97 + (id+t)%26) + "nd" packed 5-bit. Parser hazards
    * planted by formula: mvhd/tkhd/mdhd alternate v0/v1 layouts; a udta
    * box of formula junk inside moov that must be skipped by size; a
    * vmhd/smhd leaf inside minf; an mdat that uses the size==1 u64
    * largesize escape when id%4 = 0; and a trailing free box with the
    * size==0 runs-to-EOF escape when id%5 = 0 (so n_top_boxes =
    * 3 + [id%5=0]).
    */
  def syntheticMp4(id: Long): MediaRow = {
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be64(v: Long): Array[Byte] = be32(v >>> 32) ++ be32(v & 0xffffffffL)
    def be16(v: Int): Array[Byte] = Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def box(typ: String, body: Array[Byte]*): Array[Byte] = {
      val b = body.flatten.toArray
      be32(b.length + 8L) ++ typ.getBytes("US-ASCII") ++ b
    }
    val nTracks = 1 + (id % 3).toInt
    val mvTs = 600L * (1 + id % 3)
    val mvDur = 500L + id % 100000
    val mvhd =
      if (id % 2 == 1) box("mvhd", Array(1.toByte, 0, 0, 0),
        be64(0), be64(0), be32(mvTs), be64(mvDur), Array.fill[Byte](80)(0))
      else box("mvhd", Array[Byte](0, 0, 0, 0),
        be32(0), be32(0), be32(mvTs), be32(mvDur), Array.fill[Byte](80)(0))
    val traks = (0 until nTracks).map { t =>
      val vide = t % 2 == 0
      val tkDur = 200L + (3 * id + 7 * t) % 40000
      val mdTs = 1000L * (1 + (id + t) % 4)
      val mdDur = 100L + (7 * id + 11 * t) % 500000
      val c1 = 1 + ((id + t) % 26).toInt // 5-bit code of 'a'+…
      val langPacked = (c1 << 10) | (('n' - 0x60) << 5) | ('d' - 0x60)
      val tkhd =
        if ((id + t) % 2 == 1) box("tkhd", Array(1.toByte, 0, 0, 7),
          be64(0), be64(0), be32(t + 1L), be32(0), be64(tkDur),
          Array.fill[Byte](60)(0))
        else box("tkhd", Array[Byte](0, 0, 0, 7),
          be32(0), be32(0), be32(t + 1L), be32(0), be32(tkDur),
          Array.fill[Byte](60)(0))
      val mdhd =
        if ((id + t + 1) % 2 == 1) box("mdhd", Array(1.toByte, 0, 0, 0),
          be64(0), be64(0), be32(mdTs), be64(mdDur), be16(langPacked), be16(0))
        else box("mdhd", Array[Byte](0, 0, 0, 0),
          be32(0), be32(0), be32(mdTs), be32(mdDur), be16(langPacked), be16(0))
      val hdlr = box("hdlr", Array[Byte](0, 0, 0, 0), be32(0),
        (if (vide) "vide" else "soun").getBytes("US-ASCII"),
        be32(0), be32(0), be32(0), Array[Byte](0))
      val entry = be32(16L) ++
        (if (vide) "avc1" else "mp4a").getBytes("US-ASCII") ++
        Array.fill[Byte](8)(0)
      val stsd = box("stsd", Array[Byte](0, 0, 0, 0), be32(1), entry)
      val mediaHdr = // vmhd/smhd leaf the walk must pass over inside minf
        if (vide) box("vmhd", Array[Byte](0, 0, 0, 1), Array.fill[Byte](8)(0))
        else box("smhd", Array[Byte](0, 0, 0, 0), be16(0), be16(0))
      val minf = box("minf", mediaHdr, box("stbl", stsd))
      box("trak", tkhd, box("mdia", mdhd, hdlr, minf))
    }
    val junkLen = 1 + (id % 7).toInt
    val udta = box("udta",
      (0 until junkLen).map(j => ((id + j) % 256).toByte).toArray)
    val moov = box("moov", Seq(mvhd) ++ traks ++ Seq(udta): _*)
    val ftyp = box("ftyp",
      (if (id % 2 == 0) "isom" else "mp42").getBytes("US-ASCII"),
      be32(0x200), "isom".getBytes("US-ASCII"), "avc1".getBytes("US-ASCII"))
    val mdatBody = (0 until 3 + (id % 9).toInt).map(j => ((id * 5 + j) % 256).toByte).toArray
    val mdat =
      if (id % 4 == 0) // largesize escape: size==1, u64 follows fourcc
        be32(1) ++ "mdat".getBytes("US-ASCII") ++ be64(mdatBody.length + 16L) ++ mdatBody
      else box("mdat", mdatBody)
    val free = // size==0 runs-to-EOF escape on the last top-level box
      if (id % 5 == 0)
        be32(0) ++ "free".getBytes("US-ASCII") ++
          (0 until 2 + (id % 3).toInt).map(_ => 0.toByte).toArray
      else Array.empty[Byte]
    MediaRow(id, "video/mp4", ftyp ++ moov ++ mdat ++ free)
  }

  // ------------------------------------------------------------------ ZIP

  final case class ZipStats(media_id: Long, n_entries: Int, n_stored: Int,
      n_deflate: Int, total_bytes: Long, max_bytes: Long, content_sum: Long)

  /** REAL ZIP archive decode (PKWARE APPNOTE.TXT, the public format) —
    * the 17th container format, and the second archive walker next to
    * tar: end-of-central-directory located by a backward signature scan
    * (comment-tolerant), central directory walked entry by entry, each
    * entry's LOCAL header cross-checked (signature + name must match
    * the directory), payload DECOMPRESSED for real — method 0 stored,
    * method 8 deflate via `java.util.zip.Inflater(nowrap)`, the same
    * no-stub inflate the PNG decoder uses — and verified against the
    * directory's CRC-32 and uncompressed size. The content byte sum
    * proves every body was visited. Loud failures everywhere a real
    * pipeline needs them: missing/garbled EOCD, entry-count mismatch,
    * bad central/local signatures, name mismatch, unsupported method,
    * size overrun, CRC mismatch, inflate underrun (`ZipSpec`).
    */
  def decodeZip(rows: Iterator[MediaRow]): Iterator[ZipStats] = rows.map { r =>
    val entries = zipEntries(r)
    val sizes = entries.map(_.usize)
    ZipStats(r.media_id, entries.size, entries.count(_.method == 0),
      entries.count(_.method == 8), sizes.sum, (0L +: sizes).max,
      entries.map(_.content.foldLeft(0L)((acc, x) => acc + (x & 0xff))).sum)
  }

  /** One verified ZIP entry: name, declared uncompressed size, method
    * and the decompressed, CRC-checked content.
    */
  private final case class ZipEntry(name: String, usize: Long, method: Int,
                                    content: Array[Byte])

  /** The one validated ZIP walk behind [[decodeZip]],
    * [[decodeZipMembers]] and [[decodeZipPayloads]]: every central-
    * directory entry in order, local header cross-checked, content
    * decompressed and verified against the directory's CRC-32 and
    * uncompressed size.
    */
  private def zipEntries(r: MediaRow): Seq[ZipEntry] = {
    val in = Payload(r)
    val b = r.payload
    // EOCD: PK\5\6, scanned backward (a trailing comment may follow)
    var e = b.length - 22
    while (e >= 0 && !(b(e) == 'P' && b(e + 1) == 'K' && b(e + 2) == 5 && b(e + 3) == 6))
      e -= 1
    require(e >= 0, s"no end-of-central-directory: media ${r.media_id}")
    val nEntries = in.u16le(e + 10)
    require(in.u16le(e + 8) == nEntries,
      s"multi-disk archive not supported: media ${r.media_id}")
    val cdSize = in.u32le(e + 12)
    val cdOff = in.u32le(e + 16)
    require(cdOff + cdSize <= e,
      s"central directory overruns EOCD: media ${r.media_id}")
    val cdEnd = (cdOff + cdSize).toInt
    val out = Vector.newBuilder[ZipEntry]
    var i = cdOff.toInt
    var seen = 0
    while (seen < nEntries) {
      require(i + 46 <= cdEnd,
        s"central-directory entry $seen overruns the directory: media ${r.media_id}")
      require(in.u32le(i) == 0x02014b50L,
        s"bad central-directory signature at entry $seen: media ${r.media_id}")
      val method = in.u16le(i + 10)
      val crc = in.u32le(i + 16)
      val csize = in.u32le(i + 20)
      val usize = in.u32le(i + 24)
      val nameLen = in.u16le(i + 28)
      val extraLen = in.u16le(i + 30)
      val commentLen = in.u16le(i + 32)
      require(i + 46 + nameLen <= cdEnd,
        s"name of central-directory entry $seen overruns the directory: media ${r.media_id}")
      val name = new String(b, i + 46, nameLen, "UTF-8")
      // local header cross-check: header and name lie before the directory
      val lhoL = in.u32le(i + 42)
      require(lhoL + 30 <= cdOff,
        s"local header offset $lhoL for $name outside the archive: media ${r.media_id}")
      val lho = lhoL.toInt
      require(in.u32le(lho) == 0x04034b50L,
        s"bad local signature for $name: media ${r.media_id}")
      val lNameLen = in.u16le(lho + 26)
      val lExtraLen = in.u16le(lho + 28)
      require(lho + 30 + lNameLen <= cdOff,
        s"local name for $name overruns the archive: media ${r.media_id}")
      require(new String(b, lho + 30, lNameLen, "UTF-8") == name,
        s"local/central name mismatch for $name: media ${r.media_id}")
      val dataOff = lho + 30 + lNameLen + lExtraLen
      require(dataOff + csize <= b.length,
        s"entry $name overruns archive: media ${r.media_id}")
      val content = method match {
        case 0 =>
          require(csize == usize,
            s"stored entry $name with csize != usize: media ${r.media_id}")
          java.util.Arrays.copyOfRange(b, dataOff, dataOff + usize.toInt)
        case 8 =>
          require(usize <= Int.MaxValue,
            s"entry $name declares $usize uncompressed bytes: media ${r.media_id}")
          val (out, _) = inflateAll(new java.util.zip.Inflater(true), // raw deflate, no zlib wrap
            b, dataOff, csize.toInt, usize, s"$name: media ${r.media_id}")
          require(out.length == usize,
            s"inflate produced ${out.length} of $usize bytes for $name: media ${r.media_id}")
          out
        case m => throw new IllegalArgumentException(
          s"unsupported compression method $m for $name: media ${r.media_id}")
      }
      val c32 = new java.util.zip.CRC32()
      c32.update(content)
      require(c32.getValue == crc,
        s"CRC mismatch for $name: got ${c32.getValue} want $crc: media ${r.media_id}")
      out += ZipEntry(name, usize, method, content)
      seen += 1
      i += 46 + nameLen + extraLen + commentLen
    }
    require(i == cdEnd,
      s"central directory size mismatch: media ${r.media_id}")
    out.result()
  }

  /** One ZIP entry (name + uncompressed size). */
  final case class ZipMember(media_id: Long, name: String, size: Long)

  /** Member RELATION variant of [[decodeZip]] — the WebDataset-over-ZIP
    * seam: the same validated walk, one row per entry, so sample
    * assembly is a plain Spark groupBy downstream, exactly like
    * [[decodeTarMembers]]. */
  def decodeZipMembers(rows: Iterator[MediaRow]): Iterator[ZipMember] =
    rows.flatMap(r => zipEntries(r).map(e => ZipMember(r.media_id, e.name, e.usize)))

  /** Payload RELATION variant of [[decodeZip]] — one MediaRow per
    * archive entry with the DECOMPRESSED content from the same
    * validated walk (the member name rides in the mime field, the
    * decodeWarcResponses convention), so a downstream per-member
    * decoder (NPY in NPZ, any file-in-zip format) composes as a plain
    * mapPartitions chain.
    */
  def decodeZipPayloads(rows: Iterator[MediaRow]): Iterator[MediaRow] =
    rows.flatMap(r => zipEntries(r).map(e => MediaRow(r.media_id, e.name, e.content)))

  /** Minimal ZIP writer for the fixtures: local headers with real
    * CRC-32s, stored or raw-deflate entries, central directory + EOCD.
    */
  private[ops] def zipArchive(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { w16((v & 0xffff).toInt); w16(((v >> 16) & 0xffff).toInt) }
    val cd = new java.io.ByteArrayOutputStream()
    def cd16(v: Int): Unit = { cd.write(v & 0xff); cd.write((v >> 8) & 0xff) }
    def cd32(v: Long): Unit = { cd16((v & 0xffff).toInt); cd16(((v >> 16) & 0xffff).toInt) }
    entries.foreach { case (nameStr, content, stored) =>
      val crc = new java.util.zip.CRC32(); crc.update(content)
      val data = if (stored) content else {
        val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
        d.setInput(content); d.finish()
        val acc = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        while (!d.finished()) acc.write(buf, 0, d.deflate(buf))
        d.end()
        acc.toByteArray
      }
      val name = nameStr.getBytes("UTF-8")
      val lho = out.size()
      w32(0x04034b50L); w16(20); w16(0); w16(if (stored) 0 else 8)
      w16(0); w16(0) // mod time/date
      w32(crc.getValue); w32(data.length.toLong); w32(content.length.toLong)
      w16(name.length); w16(0)
      out.write(name); out.write(data)
      cd32(0x02014b50L); cd16(20); cd16(20); cd16(0); cd16(if (stored) 0 else 8)
      cd16(0); cd16(0)
      cd32(crc.getValue); cd32(data.length.toLong); cd32(content.length.toLong)
      cd16(name.length); cd16(0); cd16(0) // name/extra/comment len
      cd16(0); cd16(0) // disk, internal attrs
      cd32(0L) // external attrs
      cd32(lho.toLong)
      cd.write(name)
    }
    val cdOff = out.size()
    val cdBytes = cd.toByteArray
    out.write(cdBytes)
    w32(0x06054b50L); w16(0); w16(0); w16(entries.size); w16(entries.size)
    w32(cdBytes.length.toLong); w32(cdOff.toLong); w16(0)
    out.toByteArray
  }

  /** WebDataset-over-ZIP fixture (the syntheticWds pattern on the ZIP
    * container): m = 2 + id%4 samples, each a (sample<i>.txt,
    * sample<i>.cls) pair EXCEPT the last sample's .cls, deliberately
    * missing — the incomplete-sample case assembly audits exist to
    * catch. txt size = 20 + (id + 11i)%200, cls size = 1 + (id + 3i)%9,
    * byte j of entry e = (id + 7e + j)%256; entries alternate
    * stored/deflated by overall entry index. */
  def syntheticZipWds(id: Long): MediaRow = {
    val m = 2 + (id % 4).toInt
    val names = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    (0 until m).foreach { i =>
      names += ((s"$id/sample$i.txt", 20 + ((id + 11 * i) % 200).toInt))
      if (i < m - 1) names += ((s"$id/sample$i.cls", 1 + ((id + 3 * i) % 9).toInt))
    }
    MediaRow(id, "application/zip", buildZip(id, names.toSeq))
  }

  /** Assemble a ZIP archive from (name, size) entries with the shared
    * byte formula; entry e's bytes are (id + 7e + j)%256, even e stored,
    * odd e deflated. */
  private def buildZip(id: Long, entries: Seq[(String, Int)]): Array[Byte] =
    zipArchive(entries.zipWithIndex.map { case ((name, size), e) =>
      (name, Array.tabulate[Byte](size)(j => ((id + 7 * e + j) % 256).toByte), e % 2 == 0)
    })

  /** Deterministic ZIP fixture: m = 2 + id%4 entries, entry i named
    * `id/f<i>.txt` with size 20 + (id + 11i)%200 and byte j =
    * (id + 7i + j)%256; EVEN entries stored, ODD entries deflated (so
    * both code paths decode every archive). Real local headers, real
    * central directory, real CRC-32s — the decoder's checks all have
    * teeth. The byte/size formulas are what the DuckDB oracle replays;
    * deflate sizes never appear in the output (they depend on the
    * compressor, not the data model). */
  def syntheticZip(id: Long): MediaRow = {
    val m = 2 + (id % 4).toInt
    MediaRow(id, "application/zip",
      buildZip(id, (0 until m).map(i => (s"$id/f$i.txt", 20 + ((id + 11 * i) % 200).toInt))))
  }

  /** WARC crawl-archive census: the record walk every Common-Crawl-
    * scale text ingest starts from. */
  final case class WarcStats(media_id: Long, n_members: Int, n_responses: Int,
                             n_requests: Int, n_warcinfo: Int,
                             http_bytes: Long, payload_bytes: Long,
                             payload_sum: Long, n_ok: Int)

  /** REAL WARC/1.0 walker — the NINETEENTH container format and the
    * entry format of every crawl-based LLM pipeline (Common Crawl ships
    * WARC; ISO 28500). Three framing layers, each verified:
    *
    *  1. GZIP MEMBER framing (the .warc.gz convention: one gzip member
    *     per record, so a reader can split an archive without
    *     decompressing it end-to-end): per-member header check (magic/
    *     method/flags), raw-deflate inflate with a stall guard (the
    *     ZipSpec lesson — inflate() is not one-call-completes), and the
    *     member TRAILER verified (CRC-32 and ISIZE), which only the
    *     bytes that were actually decompressed can satisfy.
    *  2. WARC record framing: `WARC/1.0` version line, header block to
    *     the first CRLFCRLF, mandatory Content-Length, and the record
    *     required to be EXACTLY headers + block + CRLFCRLF — a
    *     Content-Length off by one fails loudly instead of desyncing.
    *  3. HTTP message split (response records): status-line parse and
    *     head/payload split at the block's own CRLFCRLF; the payload
    *     byte sum proves the split point, not just the lengths.
    *
    * The reference's S20 binary-object get (adapters/s3/src/index.ts:
    * 156-178) hands back whole-object Buffers; this is the Spark-side
    * consumer of exactly such objects. Malformed payloads — bad magic,
    * CRC/ISIZE mismatch, truncated member, bad version line, missing
    * Content-Length, framing mismatch, unknown record type — all fail
    * loudly like the other eighteen decoders (`WarcSpec`).
    */
  def decodeWarc(rows: Iterator[MediaRow]): Iterator[WarcStats] = rows.map { r =>
    val recs = warcRecords(r)
    val resp = recs.filter(_.typ == "response")
    WarcStats(r.media_id, recs.size, resp.size, recs.count(_.typ == "request"),
      recs.count(_.typ == "warcinfo"), resp.map(_.clen.toLong).sum,
      resp.map(_.payload.length.toLong).sum,
      resp.map(w => w.payload.foldLeft(0L)((acc, j) => acc + (w.rec(j) & 0xff))).sum,
      resp.count(_.status == "200"))
  }

  /** One verified WARC record: WARC-Type, the decompressed record
    * bytes, the block start, Content-Length and — for responses — the
    * offset of the HTTP head/payload CRLFCRLF (-1 otherwise).
    */
  private final case class WarcRecord(typ: String, rec: Array[Byte], blockStart: Int,
                                      clen: Int, split: Int) {
    /** The response's HTTP status code ("200", "404", ...). */
    def status: String = new String(rec, blockStart + 9, 3, "ISO-8859-1")
    /** The response's HTTP payload offsets within `rec`. */
    def payload: Range = split + 4 until blockStart + clen
  }

  /** The one validated WARC walk behind [[decodeWarc]] and
    * [[decodeWarcResponses]]: every gzip member inflated once and its
    * trailer verified, every record's framing checked, every response's
    * HTTP status line and head/payload split located.
    */
  private def warcRecords(r: MediaRow): Seq[WarcRecord] = {
    val in = Payload(r)
    val b = r.payload
    def crlf2(data: Array[Byte], from: Int): Int = {
      var k = from
      while (k + 3 < data.length &&
        !(data(k) == '\r' && data(k + 1) == '\n' &&
          data(k + 2) == '\r' && data(k + 3) == '\n')) k += 1
      if (k + 3 < data.length) k else -1
    }
    val out = Vector.newBuilder[WarcRecord]
    var off = 0
    var nMembers = 0
    while (off < b.length) {
      require(b.length - off >= 20, s"truncated gzip member at $off: media ${r.media_id}")
      require(in.u8(off) == 0x1f && in.u8(off + 1) == 0x8b,
        s"bad gzip magic at $off: media ${r.media_id}")
      val (method, flags) = (in.u8(off + 2), in.u8(off + 3))
      require(method == 8, s"gzip method $method not deflate: media ${r.media_id}")
      require(flags == 0, s"unexpected gzip flags $flags: media ${r.media_id}")
      val dataStart = off + 10
      // no declared size ahead of the member (ISIZE trails it): the
      // limit is the largest array the JVM can hold
      val (rec, used) = inflateAll(new java.util.zip.Inflater(true), b, dataStart,
        b.length - dataStart, Int.MaxValue - 8, s"member $nMembers: media ${r.media_id}")
      val tOff = dataStart + used
      val crc = new java.util.zip.CRC32(); crc.update(rec)
      require(in.u32le(tOff, "gzip trailer CRC") == crc.getValue,
        s"gzip CRC mismatch in member $nMembers: media ${r.media_id}")
      require(in.u32le(tOff + 4, "gzip trailer ISIZE") == (rec.length & 0xffffffffL),
        s"gzip ISIZE mismatch in member $nMembers: media ${r.media_id}")
      off = tOff + 8
      nMembers += 1
      // --- WARC record framing over the decompressed member ---
      val hdrEnd = crlf2(rec, 0)
      require(hdrEnd >= 0, s"no header terminator in member ${nMembers - 1}: media ${r.media_id}")
      val head = new String(rec, 0, hdrEnd, "ISO-8859-1")
      val lines = head.split("\r\n")
      require(lines(0) == "WARC/1.0",
        s"bad WARC version line '${lines(0)}': media ${r.media_id}")
      val hmap = lines.drop(1).map { l =>
        val k = l.indexOf(": ")
        require(k > 0, s"malformed WARC header '$l': media ${r.media_id}")
        (l.substring(0, k), l.substring(k + 2))
      }.toMap
      require(hmap.contains("Content-Length"),
        s"missing Content-Length in member ${nMembers - 1}: media ${r.media_id}")
      val clen = hmap("Content-Length").toIntOption.filter(_ >= 0).getOrElse(
        throw new IllegalArgumentException(s"bad Content-Length '${hmap("Content-Length")}' " +
          s"in member ${nMembers - 1}: media ${r.media_id}"))
      val blockStart = hdrEnd + 4
      require(rec.length == blockStart + clen + 4,
        s"Content-Length framing mismatch (${rec.length} != $blockStart + $clen + 4): media ${r.media_id}")
      require(rec(rec.length - 4) == '\r' && rec(rec.length - 3) == '\n' &&
        rec(rec.length - 2) == '\r' && rec(rec.length - 1) == '\n',
        s"missing record terminator: media ${r.media_id}")
      val typ = hmap.getOrElse("WARC-Type",
        throw new IllegalArgumentException(s"missing WARC-Type: media ${r.media_id}"))
      val split = typ match {
        case "warcinfo" | "request" => -1
        case "response" =>
          // HTTP head/payload split inside the block
          val split = crlf2(rec, blockStart)
          require(split >= 0 && split + 4 <= blockStart + clen,
            s"no HTTP header terminator in response: media ${r.media_id}")
          require(split - blockStart >= 12,
            s"HTTP head shorter than a status line: media ${r.media_id}")
          val status = new String(rec, blockStart, 12, "ISO-8859-1")
          require(status.startsWith("HTTP/1.1 "),
            s"bad HTTP status line '$status': media ${r.media_id}")
          split
        case t => throw new IllegalArgumentException(
          s"unknown WARC-Type '$t': media ${r.media_id}")
      }
      out += WarcRecord(typ, rec, blockStart, clen, split)
    }
    out.result()
  }

  /** A .warc.gz of one warcinfo record then, per (status, body), a
    * request/response pair, EACH RECORD ITS OWN GZIP MEMBER: fixed-width
    * header fields (%08d id, %02d index) and a fixed-width HTTP head, so
    * every record length is analytic. Record ids read
    * `<urn:<urn>:<id>-<idx>>`, request paths `/<path><i>`.
    */
  private def warcArchive(id: Long, urn: String, path: String,
                          responses: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def gzMember(record: Array[Byte]): Unit = {
      val gz = new java.util.zip.GZIPOutputStream(out)
      gz.write(record)
      gz.close() // finishes the member and ends the native Deflater
                 // (ByteArrayOutputStream.close() is a no-op)
    }
    def warcRecord(typ: String, idx: Int, block: Array[Byte]): Array[Byte] = {
      val h = new StringBuilder()
      h.append("WARC/1.0\r\n")
      h.append(s"WARC-Type: $typ\r\n")
      h.append(f"WARC-Record-ID: <urn:$urn:$id%08d-$idx%02d>\r\n")
      h.append("WARC-Date: 2026-01-01T00:00:00Z\r\n")
      h.append(s"Content-Length: ${block.length}\r\n")
      h.append("\r\n")
      val o = new java.io.ByteArrayOutputStream()
      o.write(h.toString.getBytes("US-ASCII"))
      o.write(block)
      o.write("\r\n\r\n".getBytes("US-ASCII"))
      o.toByteArray
    }
    gzMember(warcRecord("warcinfo", 0, "software: graft/13\r\n".getBytes("US-ASCII")))
    responses.zipWithIndex.foreach { case ((status, body), i) =>
      val req = f"GET /$path$i%02d HTTP/1.1\r\nHost: h$id%08d.test\r\n\r\n"
      gzMember(warcRecord("request", i + 1, req.getBytes("US-ASCII")))
      val head = s"HTTP/1.1 $status\r\nContent-Type: text/html\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n"
      gzMember(warcRecord("response", i + 1, head.getBytes("US-ASCII") ++ body))
    }
    out.toByteArray
  }

  /** Deterministic .warc.gz fixture per id — one warcinfo record, then
    * m = 1 + id%4 (request, response) pairs, EACH RECORD ITS OWN GZIP
    * MEMBER (the Common Crawl convention). All header fields are
    * fixed-width (%08d id, %02d index) so every record length is
    * analytic. Response i's HTTP body has L = 100 + (id + 17i)%300
    * bytes (always 3 digits) with byte j = (id + 5i + j)%256; its fixed
    * 65-byte HTTP head makes the record's Content-Length 65 + L. The
    * LAST response carries status 404 NF (same status-line length as
    * 200 OK), so n_ok = m − 1 — the oracle replays all of it without
    * parsing a byte.
    */
  def syntheticWarc(id: Long): MediaRow = {
    val m = 1 + (id % 4).toInt
    MediaRow(id, "application/warc", warcArchive(id, "rec", "p", (0 until m).map { i =>
      val bodyLen = 100 + ((id + 17 * i) % 300).toInt
      (if (i == m - 1) "404 NF" else "200 OK",
        Array.tabulate[Byte](bodyLen)(j => ((id + 5 * i + j) % 256).toByte))
    }))
  }

  /** PDF object census: the document-corpus ingest audit. */
  final case class PdfStats(media_id: Long, n_objects: Int, n_free: Int,
                            n_pages: Int, n_streams: Int, stream_bytes: Long,
                            n_tj: Int, n_tjarr: Int, text_chars: Long,
                            trailer_size: Int)

  /** REAL PDF walker — the TWENTIETH container format and the dominant
    * document-corpus format (ISO 32000): classic cross-reference-table
    * PDFs walked by the real framing rules, with the same
    * skip-don't-decode discipline as the GIF/MP3 walkers — no
    * rendering, no font machinery, just the structural passes a corpus
    * ingest runs to census and triage PDFs at scale:
    *
    *  1. `%PDF-` header, `startxref` pointer from the tail, and the
    *     XREF TABLE at exactly that offset — subsection header plus
    *     fixed 20-byte entries (10-digit offset, 5-digit generation,
    *     n/f type), the random-access index that makes PDF scannable
    *     without a sequential parse.
    *  2. Every in-use entry dereferenced: the `<num> 0 obj` header at
    *     the recorded offset must match the entry's object number — a
    *     stale xref fails loudly here.
    *  3. STREAM-LENGTH FRAMING: stream objects are skipped by their
    *     dict's /Length, then `endstream` is REQUIRED at exactly that
    *     boundary (stream data may contain any keyword, so length-skip
    *     is the only correct walk — the tar/zip lesson in PDF form).
    *  4. Text-op census inside content streams: `(…) Tj` and
    *     `[(…)…] TJ` operators counted and their literal string bytes
    *     summed — the extraction-volume estimate a text pipeline wants
    *     before committing to full extraction.
    *  5. Trailer /Size cross-checked against the xref entry count.
    *
    * Malformed inputs — bad header, dangling startxref, xref/object
    * offset mismatch, bad /Length framing, unterminated string, size
    * mismatch — all fail loudly (`PdfSpec`).
    */
  def decodePdf(rows: Iterator[MediaRow]): Iterator[PdfStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    require(b.length > 40 && in.ascii(0, 5) == "%PDF-", s"bad PDF header: media ${r.media_id}")
    // startxref from the tail window
    val twLen = math.min(64, b.length)
    val tail = in.ascii(b.length - twLen, twLen)
    val sxi = tail.lastIndexOf("startxref")
    require(sxi >= 0, s"missing startxref: media ${r.media_id}")
    val xrefOff =
      in.number(tail.substring(sxi + 9).trim.split("\\s+")(0), "startxref offset")(_.toInt)
    require(in.ascii(xrefOff, 4, "xref table") == "xref",
      s"startxref ($xrefOff) does not point at an xref table: media ${r.media_id}")
    var p = xrefOff + 4
    while (in.u8(p, "xref subsection") == '\n' || in.u8(p) == '\r') p += 1
    var le = p; while (in.u8(le, "xref subsection") != '\n') le += 1
    val hdr = in.ascii(p, le - p).trim.split(" ")
    require(hdr.length == 2 && hdr(0) == "0",
      s"unsupported xref subsection '${hdr.mkString(" ")}': media ${r.media_id}")
    val k = in.number(hdr(1), "xref entry count")(_.toInt)
    p = le + 1
    // k fixed 20-byte entries
    val entries = (0 until k).map { n =>
      val e = in.ascii(p + 20L * n, 20, s"xref entry $n")
      require(e(10) == ' ' && e(16) == ' ' && (e(17) == 'n' || e(17) == 'f'),
        s"malformed xref entry $n '$e': media ${r.media_id}")
      (in.number(e.substring(0, 10), s"xref entry $n offset")(_.toInt), e(17))
    }
    p += 20 * k
    // trailer: /Size must equal the entry count
    val trailerStr = in.ascii(p, math.min(200, b.length - p), "trailer")
    require(trailerStr.startsWith("trailer"),
      s"xref table not followed by trailer: media ${r.media_id}")
    val sizeM = "/Size (\\d+)".r.findFirstMatchIn(trailerStr)
    require(sizeM.isDefined, s"trailer missing /Size: media ${r.media_id}")
    val trailerSize = in.number(sizeM.get.group(1), "trailer /Size")(_.toInt)
    require(trailerSize == k,
      s"trailer /Size $trailerSize != xref count $k: media ${r.media_id}")
    var (nObj, nFree, nPages, nStreams) = (0, 0, 0, 0)
    var (streamBytes, textChars) = (0L, 0L)
    var (nTj, nTjArr) = (0, 0)
    entries.zipWithIndex.foreach { case ((off, typ), num) =>
      if (typ == 'f') nFree += 1
      else {
        nObj += 1
        val want = s"$num 0 obj"
        require(in.ascii(off, want.length, s"object $num header") == want,
          s"xref offset $off for object $num finds '${in.ascii(off, math.min(12, b.length - off))}': media ${r.media_id}")
        // dict between << and >> (single-level in the walkable subset)
        val window = in.ascii(off, math.min(300, b.length - off))
        val dOpen = window.indexOf("<<")
        val dClose = window.indexOf(">>")
        require(dOpen >= 0 && dClose > dOpen,
          s"object $num has no dictionary: media ${r.media_id}")
        val dict = window.substring(dOpen, dClose + 2)
        // "/Type /Page " (trailing delimiter) vs "/Type /Pages"
        if (dict.contains("/Type /Page ") || dict.contains("/Type /Page/")) nPages += 1
        if (dict.contains("/Length ")) {
          nStreams += 1
          val lenM = "/Length (\\d+)".r.findFirstMatchIn(dict)
          require(lenM.isDefined, s"object $num has no numeric /Length: media ${r.media_id}")
          val len = in.number(lenM.get.group(1), s"object $num /Length")(_.toInt)
          val sKey = window.indexOf("stream", dClose)
          require(sKey >= 0, s"stream object $num missing 'stream': media ${r.media_id}")
          var ds = off + sKey + 6
          if (in.u8(ds, "stream EOL") == '\r') ds += 1
          require(in.u8(ds, "stream EOL") == '\n', s"missing EOL after 'stream' in object $num: media ${r.media_id}")
          ds += 1
          // length-skip, then endstream REQUIRED at exactly that boundary
          require(in.ascii(ds.toLong + len, 10, "endstream") == "\nendstream",
            s"/Length $len does not land on endstream in object $num: media ${r.media_id}")
          streamBytes += len
          // text-op census over the content bytes
          var q = ds
          val end = ds + len
          var inArr = false
          while (q < end) {
            b(q).toChar match {
              case '[' => inArr = true; q += 1
              case ']' =>
                if (inArr && q + 3 <= end && in.ascii(q, 4).startsWith("] TJ")) nTjArr += 1
                inArr = false; q += 1
              case '(' =>
                var c = q + 1
                while (c < end && b(c) != ')') {
                  require(b(c) != '\\',
                    s"escaped string in object $num not in the walkable subset: media ${r.media_id}")
                  c += 1
                }
                require(c < end, s"unterminated string in object $num: media ${r.media_id}")
                textChars += c - q - 1
                if (!inArr && c + 3 < end && in.ascii(c + 1, 3) == " Tj") nTj += 1
                q = c + 1
              case _ => q += 1
            }
          }
        }
      }
    }
    PdfStats(r.media_id, nObj, nFree, nPages, nStreams, streamBytes,
      nTj, nTjArr, textChars, trailerSize)
  }

  /** Deterministic classic-xref PDF fixture per id: catalog + pages
    * tree + m = 1 + id%3 pages, each with an UNCOMPRESSED content
    * stream of k_i = 2 + (id+i)%4 fixed-width `(…) Tj` ops plus one
    * two-string `[…] TJ` op, so every stat is analytic:
    * stream length = 53 + 21·k_i, literal chars = 15·k_i + 12,
    * objects = 2 + 2m (+1 free), trailer /Size = 3 + 2m. Real byte
    * offsets in the xref table (tracked as the builder emits), real
    * 20-byte entries — the decoder's offset cross-check has teeth.
    */
  def syntheticPdf(id: Long): MediaRow = {
    val m = 1 + (id % 3).toInt
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes("ISO-8859-1"))
    val offsets = new Array[Int](3 + 2 * m)
    w("%PDF-1.4\n")
    offsets(1) = out.size()
    w("1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    offsets(2) = out.size()
    val kids = (0 until m).map(i => s"${3 + 2 * i} 0 R").mkString(" ")
    w(s"2 0 obj\n<< /Type /Pages /Kids [$kids] /Count $m >>\nendobj\n")
    (0 until m).foreach { i =>
      val pageNum = 3 + 2 * i
      val contNum = 4 + 2 * i
      offsets(pageNum) = out.size()
      w(s"$pageNum 0 obj\n<< /Type /Page /Parent 2 0 R /Contents $contNum 0 R >>\nendobj\n")
      val kOps = 2 + ((id + i) % 4).toInt
      val content = new StringBuilder()
      content.append("BT /F1 12 Tf 72 720 Td ")
      (0 until kOps).foreach { j =>
        content.append(f"(t$id%08d_$i%02d_$j%02d) Tj ")
      }
      content.append(f"[(a$id%08d) -120 (b$i%02d)] TJ ")
      content.append("ET")
      offsets(contNum) = out.size()
      w(s"$contNum 0 obj\n<< /Length ${content.length} >>\nstream\n")
      w(content.toString)
      w("\nendstream\nendobj\n")
    }
    val xrefOff = out.size()
    val kEntries = 3 + 2 * m
    w(s"xref\n0 $kEntries\n")
    w("0000000000 65535 f\r\n")
    (1 until kEntries).foreach(n => w(f"${offsets(n)}%010d 00000 n\r\n"))
    w(s"trailer\n<< /Size $kEntries /Root 1 0 R >>\nstartxref\n$xrefOff\n%%EOF")
    MediaRow(id, "application/pdf", out.toByteArray)
  }

  /** HTML markup census: the extraction-volume audit between the WARC
    * walk and the text pipeline. */
  final case class HtmlStats(media_id: Long, n_open: Int, n_close: Int,
                             n_selfclose: Int, n_comments: Int, n_decl: Int,
                             script_bytes: Long, n_entities: Int,
                             text_chars: Long, max_depth: Int)

  /** REAL HTML tokenizer — the TWENTY-FIRST format and the step every
    * crawl pipeline runs between the WARC response payload and the text
    * tier: a character-level markup walk (NO regex — nesting, raw-text
    * elements and entities are not regular), extracting exactly the
    * quantities a corpus ingest wants before committing to storage:
    *
    *  - tag census with a REAL element stack: open/close/self-closing
    *    counts, mismatched or unclosed tags fail loudly, max nesting
    *    depth (the DOM-bomb signal);
    *  - RAW-TEXT elements (`<script>`, `<style>`): content skipped to
    *    the literal close tag per the HTML parsing spec — their bytes
    *    are counted (the boilerplate mass) but never contribute text;
    *  - comments and `<!...>` declarations skipped with terminator
    *    checks;
    *  - character references in text DECODED (`&amp;`-style named +
    *    `&#NN;` numeric), unknown entities fail loudly;
    *  - visible text chars counted post-decode — the extraction-volume
    *    number that decides whether the document is worth keeping.
    */
  def decodeHtml(rows: Iterator[MediaRow]): Iterator[HtmlStats] =
    rows.map(r => htmlWalk(r)._1)

  /** The one validated markup walk behind [[decodeHtml]] and
    * [[decodeHtmlLinks]]: the census row plus every `<a ` open tag with
    * its offset, in document order. Anchors inside comments,
    * declarations and raw-text elements are not tags and are not listed.
    */
  private def htmlWalk(r: MediaRow): (HtmlStats, Seq[(Int, String)]) = {
    val in = Payload(r)
    val s = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
    val anchors = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    var i = 0
    var (nOpen, nClose, nSelf, nComments, nDecl, nEnt) = (0, 0, 0, 0, 0, 0)
    var (scriptBytes, textChars) = (0L, 0L)
    var maxDepth = 0
    val stack = scala.collection.mutable.Stack[String]()
    val rawText = Set("script", "style")
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.startsWith("<!--", i)) {
          val e = s.indexOf("-->", i + 4)
          require(e >= 0, s"unterminated comment at $i: media ${r.media_id}")
          nComments += 1; i = e + 3
        } else if (s.startsWith("<!", i)) {
          val e = s.indexOf('>', i)
          require(e >= 0, s"unterminated declaration at $i: media ${r.media_id}")
          nDecl += 1; i = e + 1
        } else if (s.startsWith("</", i)) {
          val e = s.indexOf('>', i)
          require(e >= 0, s"unterminated close tag at $i: media ${r.media_id}")
          val name = s.substring(i + 2, e).trim
          require(stack.nonEmpty && stack.top == name,
            s"mismatched </$name> (open: ${stack.headOption.getOrElse("-")}): media ${r.media_id}")
          stack.pop()
          nClose += 1; i = e + 1
        } else {
          val e = s.indexOf('>', i)
          require(e >= 0, s"unterminated tag at $i: media ${r.media_id}")
          val inner = s.substring(i + 1, e)
          val self = inner.endsWith("/")
          val name = (if (self) inner.dropRight(1) else inner)
            .takeWhile(ch => ch.isLetterOrDigit)
          require(name.nonEmpty, s"empty tag name at $i: media ${r.media_id}")
          if (inner.startsWith("a ")) anchors += ((i, s.substring(i, e)))
          if (self) { nSelf += 1; i = e + 1 }
          else if (rawText(name)) {
            // raw-text element: content runs to the LITERAL close tag
            nOpen += 1
            maxDepth = math.max(maxDepth, stack.size + 1)
            val close = s"</$name>"
            val ce = s.indexOf(close, e + 1)
            require(ce >= 0, s"unterminated raw-text <$name>: media ${r.media_id}")
            scriptBytes += ce - (e + 1)
            nClose += 1
            i = ce + close.length
          } else {
            nOpen += 1
            stack.push(name)
            maxDepth = math.max(maxDepth, stack.size)
            i = e + 1
          }
        }
      } else if (c == '&') {
        val sc = s.indexOf(';', i)
        require(sc > i && sc - i <= 8, s"unterminated entity at $i: media ${r.media_id}")
        val ent = s.substring(i + 1, sc)
        val decoded = ent match {
          case "amp" => "&"
          case "lt" => "<"
          case "gt" => ">"
          case "quot" => "\""
          case "apos" => "'"
          case num if num.startsWith("#") && num.length > 1 && num.drop(1).forall(_.isDigit) =>
            new String(Character.toChars(in.number(num.drop(1), "character reference")(_.toInt)))
          case other => throw new IllegalArgumentException(
            s"unknown entity &$other;: media ${r.media_id}")
        }
        nEnt += 1
        textChars += decoded.length
        i = sc + 1
      } else {
        textChars += 1
        i += 1
      }
    }
    require(stack.isEmpty,
      s"unclosed tags at EOF: ${stack.mkString(",")}: media ${r.media_id}")
    (HtmlStats(r.media_id, nOpen, nClose, nSelf, nComments, nDecl,
      scriptBytes, nEnt, textChars, maxDepth), anchors.toSeq)
  }

  /** Payload RELATION variant of [[decodeWarc]] — the member-relation
    * pattern on the crawl walker: over the same verified walk (gzip
    * CRC/ISIZE, record framing, HTTP splits), each HTTP-200 response's
    * PAYLOAD is emitted as a MediaRow (mime text/html), so the
    * downstream parse — [[decodeHtml]], the text tier — is plain Spark
    * over a relation, exactly how a production WARC→text job is
    * shaped. */
  def decodeWarcResponses(rows: Iterator[MediaRow]): Iterator[MediaRow] =
    rows.flatMap { r =>
      warcRecords(r).collect {
        case w if w.typ == "response" && w.status == "200" =>
          MediaRow(r.media_id, "text/html",
            java.util.Arrays.copyOfRange(w.rec, w.payload.start, w.payload.end))
      }
    }

  /** Crawl-shaped .warc.gz fixture: the [[syntheticWarc]] framing with
    * HTML response bodies — page j (j < m−1 gets status 200, the last
    * is the 404) carries k_j = 10 + (id + 7j)%30 twelve-char words in
    * one paragraph, so the downstream parse volume is analytic
    * (13·k_j − 1 text chars per page).
    */
  def syntheticCrawlWarc(id: Long): MediaRow = {
    val m = 1 + (id % 4).toInt
    MediaRow(id, "application/warc", warcArchive(id, "crawl", "c", (0 until m).map { i =>
      val k = 10 + ((id + 7 * i) % 30).toInt
      val words = (0 until k).map(j => f"w$id%08d_$j%02d").mkString(" ")
      (if (i == m - 1) "404 NF" else "200 OK",
        s"<html><body><p>$words</p></body></html>".getBytes("US-ASCII"))
    }))
  }

  /** One extracted anchor link (the crawl frontier / link-graph seam). */
  final case class HtmlLink(media_id: Long, href: String)

  /** Link RELATION variant of [[decodeHtml]] — the member-relation
    * pattern (decodeTarMembers/decodeZipMembers) on the markup walker:
    * over the same validated walk (stack balance, raw-text rule, entity
    * checks), each anchor tag's `href` attribute is emitted one row per
    * link, so the LINK GRAPH — the crawl frontier, PageRank input,
    * in-degree census — is plain Spark aggregation downstream, not
    * decoder logic. Anchors without an href fail loudly (the fixture
    * always writes one; a real pipeline wants the miss surfaced).
    */
  def decodeHtmlLinks(rows: Iterator[MediaRow]): Iterator[HtmlLink] =
    rows.flatMap { r =>
      htmlWalk(r)._2.map { case (i, tag) =>
        val hi = tag.indexOf("href=\"")
        require(hi >= 0, s"anchor without href at $i: media ${r.media_id}")
        val vs = hi + 6
        val ve = tag.indexOf('"', vs)
        require(ve > vs, s"unterminated href at $i: media ${r.media_id}")
        HtmlLink(r.media_id, tag.substring(vs, ve))
      }
    }

  /** Deterministic linked-page fixture: page id carries m = 2 + id%5
    * anchors to `/doc/<(id + 31(j+1)) % 1000>` — 31 is coprime to 1000,
    * so no self-link arises at m ≤ 6 and the in-degree distribution
    * over the 1000-page namespace is formula-replayable.
    */
  def syntheticHtmlLinks(id: Long): MediaRow = {
    val m = 2 + (id % 5).toInt
    val sb = new StringBuilder()
    sb.append("<html><body>")
    (0 until m).foreach { j =>
      val dst = (id + 31L * (j + 1)) % 1000L
      sb.append(s"""<a href="/doc/$dst">t$j</a>""")
    }
    sb.append("</body></html>")
    MediaRow(id, "text/html",
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** robots.txt census + access decisions: the crawl-politeness gate. */
  final case class RobotsStats(media_id: Long, n_groups: Int, n_rules: Int,
                               n_sitemaps: Int, delay_star: Int,
                               n_allowed: Int, n_blocked: Int)

  /** REAL robots.txt parser (RFC 9309, the Robots Exclusion Protocol) —
    * the politeness gate every crawl pipeline consults before the WARC
    * fetch: line-oriented group parse (a `User-agent:` run opens a
    * group; `Allow:`/`Disallow:` rules attach to the OPEN group —
    * a rule before any user-agent line fails loudly), comments and
    * blank lines per spec, `Crawl-delay` and `Sitemap` extensions
    * censused, and the REAL access-decision semantics evaluated for a
    * fixed probe set: the most specific matching group wins (exact UA
    * over `*`, and per RFC there is NO fallback merge), then
    * longest-path-match among that group's rules with Allow winning
    * length ties; no matching rule means allowed.
    */
  def decodeRobots(rows: Iterator[MediaRow]): Iterator[RobotsStats] = rows.map { r =>
    val in = Payload(r)
    val text = new String(r.payload, java.nio.charset.StandardCharsets.UTF_8)
    // groups: (user agents, rules (allow?, path)); extensions censused
    val groups = scala.collection.mutable.ArrayBuffer[
      (scala.collection.mutable.ArrayBuffer[String],
       scala.collection.mutable.ArrayBuffer[(Boolean, String)])]()
    var nSitemaps = 0
    var delayStar = 0
    var openForAgents = false // a UA line extends the open group only
                              // until a rule closes the agent run
    text.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      if (line.nonEmpty) {
        val ci = line.indexOf(':')
        require(ci > 0, s"malformed robots line '$line': media ${r.media_id}")
        val key = line.substring(0, ci).trim.toLowerCase
        val value = line.substring(ci + 1).trim
        key match {
          case "user-agent" =>
            if (!openForAgents) {
              groups += ((scala.collection.mutable.ArrayBuffer(),
                scala.collection.mutable.ArrayBuffer()))
              openForAgents = true
            }
            groups.last._1 += value.toLowerCase
          case "allow" | "disallow" =>
            require(groups.nonEmpty,
              s"$key rule before any user-agent: media ${r.media_id}")
            openForAgents = false
            groups.last._2 += ((key == "allow", value))
          case "crawl-delay" =>
            require(groups.nonEmpty,
              s"crawl-delay before any user-agent: media ${r.media_id}")
            openForAgents = false
            if (groups.last._1.contains("*")) delayStar = in.number(value, "crawl-delay")(_.toInt)
          case "sitemap" => nSitemaps += 1 // group-independent per RFC
          case other => throw new IllegalArgumentException(
            s"unknown robots directive '$other': media ${r.media_id}")
        }
      }
    }
    // access decision for UA `ua`: most specific group, longest match
    def allowed(ua: String, path: String): Boolean = {
      val g = groups.find(_._1.contains(ua)).orElse(groups.find(_._1.contains("*")))
      g match {
        case None => true
        case Some((_, rules)) =>
          val hits = rules.filter { case (_, p) => p.nonEmpty && path.startsWith(p) }
          if (hits.isEmpty) true
          else {
            val maxLen = hits.map(_._2.length).max
            hits.filter(_._2.length == maxLen).exists(_._1) // allow wins ties
          }
      }
    }
    val probes = Seq("/p0/secret", "/p2/secret", "/private/x", "/public/x")
    val nAllowed = probes.count(allowed("graftbot", _))
    RobotsStats(r.media_id, groups.size, groups.map(_._2.size).sum,
      nSitemaps, delayStar, nAllowed, probes.size - nAllowed)
  }

  /** Deterministic robots.txt fixture per id: a `*` group (2 rules +
    * crawl-delay id%5 + 1), a `graftbot` group with `Allow: /` plus
    * d + 1 = id%3 + 1 path disallows, 1 + id%2 sitemap lines, comments
    * and blank lines. Probe decisions are analytic: `/p0/secret` is
    * always blocked for graftbot, `/p2/secret` iff d = 2, the two
    * `*`-group paths are allowed (RFC: no fallback merge once a
    * UA-specific group matches) — so n_blocked = 1 + (id%3 = 2).
    */
  def syntheticRobots(id: Long): MediaRow = {
    val d = (id % 3).toInt
    val sb = new StringBuilder()
    sb.append(s"# robots fixture $id\n\n")
    sb.append("User-agent: *\n")
    sb.append("Disallow: /private\n")
    sb.append("Allow: /private/ok\n")
    sb.append(s"Crawl-delay: ${id % 5 + 1}\n\n")
    sb.append("User-agent: graftbot\n")
    sb.append("Allow: /\n")
    (0 to d).foreach(k => sb.append(s"Disallow: /p$k/secret\n"))
    sb.append("\n")
    (0 until (1 + (id % 2)).toInt).foreach(k =>
      sb.append(s"Sitemap: https://example.test/s$k.xml\n"))
    MediaRow(id, "text/plain",
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Deterministic HTML fixture per id: doctype, title, style, one
    * comment, a div of m = 2 + id%4 paragraphs — paragraph i carries
    * k_i = 3 + (id+i)%5 fixed-width words, one `&amp;` entity and a
    * `<br/>` — and a script. Every census stat is analytic: open/close
    * tags = 7 + m each, self-closing = m, raw-text bytes = 28, text
    * chars = 9 (title) + Σ(13·k_i + 3), max depth 4
    * (html>body>div>p).
    */
  def syntheticHtml(id: Long): MediaRow = {
    val m = 2 + (id % 4).toInt
    val sb = new StringBuilder()
    sb.append("<!DOCTYPE html>")
    sb.append(f"<html><head><title>T$id%08d</title>")
    sb.append("<style>.c{margin:0}</style></head>")
    sb.append(f"<body><!--n$id%08d--><div id=${'"'}d$id%08d${'"'}>")
    (0 until m).foreach { i =>
      val k = 3 + ((id + i) % 5).toInt
      val words = (0 until k).map(_ => f"w$id%08d_$i%02d").mkString(" ")
      sb.append(f"""<p class="k$i%02d">""")
      sb.append(words).append(" &amp; x<br/></p>")
    }
    sb.append(f"</div><script>var v$id%08d=1;</script></body></html>")
    MediaRow(id, "text/html",
      sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Parsed baseline TIFF: byte order, IFD entry census, dimensions,
    * strip geometry and the exact pixel-byte sum (the endianness
    * witness — a walker that reads the wrong byte order dereferences a
    * wrong strip offset or sums the wrong span).
    */
  final case class TiffStats(media_id: Long, big_endian: Int, n_entries: Int,
                             width: Long, height: Long, bits: Int,
                             n_strips: Int, strip_bytes: Long, pixel_sum: Long)

  /** REAL baseline-TIFF decoder (public TIFF 6.0 spec) — the scanned-
    * document corpus format: II/MM byte-order mark (BOTH endiannesses
    * parsed for real — the fixture alternates them), the 42 magic, the
    * IFD walk (tag/type/count/value 12-byte entries, SHORT vs LONG
    * value widths), baseline grayscale tags (width, length,
    * bits-per-sample, compression=1, photometric, strip offset/count,
    * rows-per-strip), strip bounds checked against the payload, exact
    * strip byte sum. Multi-page files and compressed strips fail
    * LOUDLY — this walker censuses exactly what it verified.
    */
  def decodeTiff(rows: Iterator[MediaRow]): Iterator[TiffStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    val bom = in.ascii(0, 2, "byte-order mark")
    val big = bom match {
      case "II" => false
      case "MM" => true
      case _ => throw new IllegalArgumentException(
        s"bad byte-order mark '$bom': media ${r.media_id}")
    }
    // TIFF's SHORT and LONG in the file's byte order
    def short(i: Long): Int = if (big) in.u16be(i) else in.u16le(i)
    def long(i: Long): Long = if (big) in.u32be(i) else in.u32le(i)
    val magic = short(2)
    require(magic == 42, s"bad TIFF magic $magic: media ${r.media_id}")
    val ifd = long(4)
    require(ifd >= 8, s"IFD offset $ifd out of range: media ${r.media_id}")
    val n = short(ifd)
    require(ifd + 2 + 12L * n + 4 <= b.length,
      s"IFD overruns payload: media ${r.media_id}")
    var (width, height, rowsPerStrip) = (0L, 0L, 0L)
    var (bits, compression, photometric) = (0, 0, 0)
    var (stripOff, stripCnt) = (-1L, -1L)
    (0 until n).foreach { e =>
      val p = ifd.toInt + 2 + 12 * e
      val tag = short(p)
      val typ = short(p + 2)
      val cnt = long(p + 4)
      require(cnt == 1, s"tag $tag count $cnt unsupported: media ${r.media_id}")
      // SHORT(3) inline in the first 2 value bytes, LONG(4) in all 4
      val v = typ match {
        case 3 => short(p + 8).toLong
        case 4 => long(p + 8)
        case t => throw new IllegalArgumentException(
          s"tag $tag type $t unsupported: media ${r.media_id}")
      }
      tag match {
        case 256 => width = v
        case 257 => height = v
        case 258 => bits = v.toInt
        case 259 => compression = v.toInt
        case 262 => photometric = v.toInt
        case 273 => stripOff = v
        case 278 => rowsPerStrip = v
        case 279 => stripCnt = v
        case t => throw new IllegalArgumentException(
          s"unexpected tag $t: media ${r.media_id}")
      }
    }
    val next = long(ifd.toInt + 2 + 12 * n)
    require(next == 0, s"multi-page TIFF unsupported (next IFD $next): media ${r.media_id}")
    require(compression == 1, s"compressed strips unsupported: media ${r.media_id}")
    require(bits == 8 && photometric == 1,
      s"only 8-bit grayscale supported: media ${r.media_id}")
    require(rowsPerStrip >= height, s"multi-strip unsupported: media ${r.media_id}")
    require(stripOff >= 8 && stripCnt == width * height &&
      stripOff + stripCnt <= b.length,
      s"strip [$stripOff, +$stripCnt) invalid: media ${r.media_id}")
    var (sum, j) = (0L, 0L)
    while (j < stripCnt) { sum += b((stripOff + j).toInt) & 0xff; j += 1 }
    TiffStats(r.media_id, if (big) 1 else 0, n, width, height, bits, 1,
      stripCnt, sum)
  }

  /** Deterministic baseline-TIFF fixture per id: 8-bit grayscale
    * w = 2 + id%6 by h = 1 + id%5, single strip at offset 8 with pixel
    * byte j = (id·17 + j) mod 256, one 8-entry IFD after the strip —
    * LITTLE-endian for even ids, BIG-endian for odd (both real decoder
    * paths run on every other row).
    */
  def syntheticTiff(id: Long): MediaRow = {
    val big = id % 2 == 1
    val w = 2 + (id % 6)
    val h = 1 + (id % 5)
    val nPix = w * h
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (big) { out.write((v >> 8) & 0xff); out.write(v & 0xff) }
      else { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit =
      if (big) (3 to 0 by -1).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
      else (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    out.write((if (big) "MM" else "II").getBytes("US-ASCII"))
    w16(42)
    w32(8 + nPix) // IFD sits after the strip
    var j = 0L
    while (j < nPix) { out.write(((id * 17 + j) % 256).toInt); j += 1 }
    w16(8) // entry count
    def entry(tag: Int, typ: Int, v: Long): Unit = {
      w16(tag); w16(typ); w32(1L)
      if (typ == 3) { w16(v.toInt); w16(0) } else w32(v)
    }
    entry(256, 4, w) // ImageWidth
    entry(257, 4, h) // ImageLength
    entry(258, 3, 8) // BitsPerSample
    entry(259, 3, 1) // Compression: none
    entry(262, 3, 1) // Photometric: BlackIsZero
    entry(273, 4, 8) // StripOffsets
    entry(278, 4, h) // RowsPerStrip
    entry(279, 4, nPix) // StripByteCounts
    w32(0L) // no next IFD
    MediaRow(id, "image/tiff", out.toByteArray)
  }
}
