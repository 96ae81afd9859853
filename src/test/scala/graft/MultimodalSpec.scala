package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.{ImageStats, MediaRow}

class MultimodalSpec extends SparkSpec {

  private def ppm(header: String, px: Array[Byte]): Array[Byte] =
    header.getBytes("US-ASCII") ++ px

  test("decodePpm: hand-computed 2x2 image, comment in header") {
    // R,G,B per pixel: (10,20,30) (40,50,60) (70,80,90) (100,110,120)
    val px = Array[Byte](10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120)
    val out = Multimodal.decodePpm(
      Iterator(MediaRow(7L, "image/x-portable-pixmap",
        ppm("P6\n# a comment\n2 2\n255\n", px)))).toSeq
    assert(out == Seq(ImageStats(7L, 2, 2, 255, 4L, 220L, 260L, 300L)))
  }

  test("decodePpm: high bytes are unsigned, maxval parsed") {
    val px = Array[Byte](-1, 0, -128) // 255, 0, 128 unsigned
    val out = Multimodal.decodePpm(
      Iterator(MediaRow(1L, "ppm", ppm("P6\n1 1\n65535\n", px)))).toSeq
    assert(out == Seq(ImageStats(1L, 1, 1, 65535, 1L, 255L, 0L, 128L)))
  }

  test("decodePpm: malformed payloads fail loudly, not as nulls") {
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodePpm(Iterator(MediaRow(1L, "ppm", "P5\n1 1\n255\n".getBytes ++ Array[Byte](0)))).toSeq
    }
    intercept[IllegalArgumentException] { // truncated raster
      Multimodal.decodePpm(Iterator(MediaRow(2L, "ppm", ppm("P6\n2 2\n255\n", Array[Byte](1, 2, 3))))).toSeq
    }
    intercept[IllegalArgumentException] { // header junk where an int should be
      Multimodal.decodePpm(Iterator(MediaRow(3L, "ppm", "P6\nx y\n255\n".getBytes))).toSeq
    }
  }

  test("decodeWav: hand-built stereo PCM, junk chunk skipped, LE signed samples") {
    import graft.ops.Multimodal.WavStats
    val bb = java.nio.ByteBuffer.allocate(12 + 24 + 12 + 8 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(4 + 24 + 12 + 8 + 8).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(2).putInt(44100)
      .putInt(44100 * 4).putShort(4).putShort(16)
    bb.put("LIST".getBytes).putInt(3).put(Array[Byte]('a', 'b', 0))
      .put(0.toByte) // ODD chunk size: body then a pad byte
    bb.put("data".getBytes).putInt(8)
    Seq(100, -200, 300, -32768).foreach(v => bb.putShort(v.toShort)) // L,R,L,R
    val out = Multimodal.decodeWav(
      Iterator(Multimodal.MediaRow(9L, "audio/wav", bb.array()))).toSeq
    assert(out == Seq(WavStats(9L, 2, 44100, 16, 2L, 400L, -32968L)))
  }

  test("decodeWav: malformed payloads fail loudly") {
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeWav(Iterator(Multimodal.MediaRow(1L, "wav", "RIFXxxxxWAVE".getBytes))).toSeq
    }
    intercept[IllegalArgumentException] { // no fmt chunk at all
      val bb = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(4).put("WAVE".getBytes)
      Multimodal.decodeWav(Iterator(Multimodal.MediaRow(2L, "wav", bb.array()))).toSeq
    }
    intercept[IllegalArgumentException] { // size >= 2^31 must FAIL, not spin
      val bb = java.nio.ByteBuffer.allocate(20).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(12).put("WAVE".getBytes)
      bb.put("LIST".getBytes).putInt(0xFFFFFFF8.toInt) // u32 wraps negative under .toInt
      Multimodal.decodeWav(Iterator(Multimodal.MediaRow(3L, "wav", bb.array()))).toSeq
    }
    intercept[IllegalArgumentException] { // >2 channels: per-channel sums undefined
      val bb = java.nio.ByteBuffer.allocate(12 + 24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(4 + 24).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16).putShort(1).putShort(3).putInt(8000)
        .putInt(8000 * 6).putShort(6).putShort(16)
      Multimodal.decodeWav(Iterator(Multimodal.MediaRow(4L, "wav", bb.array()))).toSeq
    }
  }

  test("syntheticWav fixtures round-trip through the real parser") {
    import spark.implicits._
    import graft.ops.Multimodal.WavStats
    val ids = Seq(0L, 1L, 2L, 7L, 31L).toDF("id")
    val stats = Multimodal.decode(Multimodal.fixtures(ids, "id")(Multimodal.syntheticWav))(
      Multimodal.decodeWav)
      .as[WavStats].collect().sortBy(_.media_id)
    stats.foreach { s =>
      val id = s.media_id
      val c = 1 + (id % 2).toInt
      assert(s.n_channels == c && s.sample_rate == 8000 + (id % 4).toInt * 1000)
      assert(s.bits_per_sample == 16 && s.n_frames == 4 + id % 16)
      val vals = (0 until (s.n_frames * c).toInt).map(j => (id * 37 + j * 13) % 4001 - 2000)
      assert(s.ch0_sum == vals.zipWithIndex.filter(_._2 % c == 0).map(_._1).sum)
      assert(s.ch1_sum == vals.zipWithIndex.filter(_._2 % c != 0).map(_._1).sum)
    }
  }

  test("syntheticPpm fixtures round-trip through the real parser") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 12L, 39L).toDF("id")
    val stats = Multimodal.decode(Multimodal.fixtures(ids, "id")(Multimodal.syntheticPpm))(
      Multimodal.decodePpm)
      .as[ImageStats].collect().sortBy(_.media_id)
    stats.foreach { s =>
      val id = s.media_id
      assert(s.width == 1 + (id % 8).toInt && s.height == 1 + (id % 5).toInt && s.maxval == 255)
      val expected = (0 until s.width * s.height * 3).map(j => (id * 31 + j) % 256)
      assert(s.r_sum == expected.zipWithIndex.filter(_._2 % 3 == 0).map(_._1).sum)
      assert(s.b_sum == expected.zipWithIndex.filter(_._2 % 3 == 2).map(_._1).sum)
    }
  }

  test("decodePpmPhash: brightness shift is invariant, local edit is near, scramble is far") {
    import graft.ops.Multimodal.PpmPhash
    val (w, h) = (22, 12)
    def img(id: Long, f: Int => Int): MediaRow =
      MediaRow(id, "ppm", ppm(s"P6\n$w $h\n255\n",
        Array.tabulate(w * h * 3)(j => f(j).toByte)))
    def base(j: Int): Int = (j * 7 + (j / 3) % 11 * 23) % 200 // 0..199, textured
    def hash(r: MediaRow): Long = Multimodal.decodePpmPhash(Iterator(r)).next().phash
    def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    val h0 = hash(img(1, base))
    // +20 on EVERY byte (no wraparound: max 219): adjacent comparisons
    // survive a uniform brightness shift — the perceptual property
    assert(hash(img(2, j => base(j) + 20)) == h0)
    // one pixel blown out: at most the two comparisons touching its
    // grid cell can flip
    val edited = hash(img(3, j => if (j / 3 == (5 * w + 7)) 255 else base(j)))
    assert(hamming(h0, edited) <= 2)
    // byte-reversed raster: structurally different image, far away
    val scrambled = hash(img(4, j => base(w * h * 3 - 1 - j)))
    assert(hamming(h0, scrambled) > 10)
  }

  test("phashPairs recovers exactly the planted twins within hamming 3") {
    import spark.implicits._
    import graft.ops.Multimodal.PpmPhash
    val ids = (0L until 120L).toDF("id")
    val media = Multimodal.syntheticPpmPairs(ids, "id")
    import graft.ops.Multimodal.PpmPhashB
    val hashes = Multimodal.decode(media)(Multimodal.decodePpmPhashBanded).as[PpmPhashB]
      .collect().map(p => p.media_id -> p).toMap
    // the content band is INJECTIVE on distinct sources here: row 0
    // encodes the id stripes, so only a base and its twin share a band
    hashes.values.groupBy(p => (p.width, p.height, p.band)).foreach { case (_, g) =>
      assert(g.map(_.media_id / 2).toSet.size == 1,
        s"row-0 band collided across sources: ${g.map(_.media_id)}")
    }
    // ground truth from the decoded hashes themselves: the blocked-pair
    // contract is same (w,h), same row-0 content band, hamming <= 3
    val expected = (for {
      a <- hashes.values; b <- hashes.values
      if a.media_id < b.media_id && a.width == b.width && a.height == b.height
      if a.band == b.band
      d = java.lang.Long.bitCount(a.phash ^ b.phash) if d <= 3
    } yield (a.media_id, b.media_id, d)).toSet
    val got = Multimodal.nearDupPairs(Multimodal.decode(media)(Multimodal.decodePpmPhashBanded),
        "phash", Seq("width", "height", "band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    // the construction plants recoverable twins: most (2id, 2id+1) pairs
    // land within the threshold (scattered +8 flips only cells whose
    // adjacent contrast was within 8)
    val twinPairs = got.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    assert(twinPairs.size >= 10, s"only ${twinPairs.size} planted twins recovered")
  }

  test("afpPairs recovers exactly the planted audio twins within hamming 3") {
    import spark.implicits._
    import graft.ops.Multimodal.WavAfp
    val ids = (0L until 120L).toDF("id")
    val media = Multimodal.syntheticWavPairs(ids, "id")
    import graft.ops.Multimodal.WavAfpB
    val hashes = Multimodal.decode(media)(Multimodal.decodeWavAfpBanded).as[WavAfpB]
      .collect().map(a => a.media_id -> a).toMap
    // prefix-energy band injectivity on distinct sources (twin shares it)
    hashes.values.groupBy(a => (a.n_samples, a.band)).foreach { case (_, g) =>
      assert(g.map(_.media_id / 2).toSet.size == 1,
        s"prefix-energy band collided across sources: ${g.map(_.media_id)}")
    }
    val expected = (for {
      a <- hashes.values; b <- hashes.values
      if a.media_id < b.media_id && a.n_samples == b.n_samples
      if a.band == b.band
      d = java.lang.Long.bitCount(a.afp ^ b.afp) if d <= 3
    } yield (a.media_id, b.media_id, d)).toSet
    val got = Multimodal.nearDupPairs(Multimodal.decode(media)(Multimodal.decodeWavAfpBanded),
        "afp", Seq("n_samples", "band"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == expected)
    // the perturbation skips segments 0-10, so every twin shares its
    // base's blocking band and most land within the threshold
    val twins = got.filter { case (a, b, _) => b == a + 1 && a % 2 == 0 }
    assert(twins.size >= 10, s"only ${twins.size} planted audio twins recovered")
  }

  test("decodeJpegHeader: hand-built marker stream, segment skip, BE dims") {
    // SOI + APP0(JFIF) + COM("hi") + SOF0 640x480x3
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
    u8(0xff); u8(0xd8)
    u8(0xff); u8(0xe0); u16(16)
    out.write("JFIF".getBytes("US-ASCII")); u8(0)
    u8(1); u8(1); u8(0); u16(1); u16(1); u8(0); u8(0)
    u8(0xff); u8(0xfe); u16(4); u8('h'); u8('i')
    u8(0xff); u8(0xc0); u16(8 + 9)
    u8(8); u16(480); u16(640); u8(3)
    (1 to 3).foreach { c => u8(c); u8(0x11); u8(0) }
    u8(0xff); u8(0xd9)
    val d = Multimodal.decodeJpegHeader(
      Iterator(Multimodal.MediaRow(7L, "image/jpeg", out.toByteArray))).next()
    assert(d.height == 480 && d.width == 640 && d.n_components == 3)
    assert(!d.is_progressive && d.n_skipped == 2)
  }

  test("decodeBmp: hand-built 2x2 bottom-up BMP, stride padding skipped") {
    import graft.ops.Multimodal.BmpStats
    // image rows (top-down): row0 = [(B=1,G=2,R=3), (4,5,6)],
    //                        row1 = [(7,8,9), (10,11,12)]
    // file stores row1 FIRST (bottom-up); stride = (3*2+3)&~3 = 8 → 2 pad
    val bb = java.nio.ByteBuffer.allocate(54 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte).putInt(54 + 16)
      .putShort(0).putShort(0).putInt(54)
    bb.putInt(40).putInt(2).putInt(2).putShort(1).putShort(24)
      .putInt(0).putInt(16).putInt(2835).putInt(2835).putInt(0).putInt(0)
    Seq(7, 8, 9, 10, 11, 12).foreach(v => bb.put(v.toByte))
    bb.put(0x55.toByte).put(0x55.toByte) // junk padding must be skipped
    Seq(1, 2, 3, 4, 5, 6).foreach(v => bb.put(v.toByte))
    bb.put(0x55.toByte).put(0x55.toByte)
    val out = Multimodal.decodeBmp(
      Iterator(Multimodal.MediaRow(5L, "image/bmp", bb.array()))).toSeq
    assert(out == Seq(BmpStats(5L, 2, 2, 3L + 6 + 9 + 12, 2L + 5 + 8 + 11,
      1L + 4 + 7 + 10, 1L + 2 + 3 + 4 + 5 + 6)))
  }

  test("decodeBmp: malformed payloads fail loudly") {
    def hdr(bpp: Int, compression: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(54 + 8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('B'.toByte).put('M'.toByte).putInt(54 + 8)
        .putShort(0).putShort(0).putInt(54)
      bb.putInt(40).putInt(1).putInt(1).putShort(1).putShort(bpp.toShort)
        .putInt(compression).putInt(8).putInt(2835).putInt(2835)
        .putInt(0).putInt(0)
      bb.array()
    }
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeBmp(Iterator(
        Multimodal.MediaRow(1L, "bmp", "XXnot-a-bmp-at-all".getBytes ++ new Array[Byte](40)))).toSeq
    }
    intercept[IllegalArgumentException] { // 8-bit palette BMP unsupported
      Multimodal.decodeBmp(Iterator(Multimodal.MediaRow(2L, "bmp", hdr(8, 0)))).toSeq
    }
    intercept[IllegalArgumentException] { // BI_RLE8 compression unsupported
      Multimodal.decodeBmp(Iterator(Multimodal.MediaRow(3L, "bmp", hdr(24, 1)))).toSeq
    }
    intercept[IllegalArgumentException] { // pixel array overruns payload
      val full = hdr(24, 0)
      Multimodal.decodeBmp(Iterator(
        Multimodal.MediaRow(4L, "bmp", full.take(full.length - 6)))).toSeq
    }
  }

  test("decodeQoi: hand-built op stream — RGB, RGBA, INDEX, RUN, DIFF") {
    import graft.ops.Multimodal.QoiStats
    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Int): Unit = { out.write(v >>> 24); out.write((v >>> 16) & 0xff)
      out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    "qoif".foreach(c => out.write(c))
    be32(7); be32(1); out.write(3); out.write(0)
    Seq(0xfe, 10, 20, 30).foreach(out.write)      // p0 RGB (10,20,30)
    Seq(0xff, 1, 2, 3, 4).foreach(out.write)      // p1 RGBA (1,2,3) a=4
    out.write((3 * 10 + 5 * 20 + 7 * 30 + 11 * 255) % 64) // p2 INDEX → (10,20,30)
    Seq(0xfe, 5, 6, 7).foreach(out.write)         // p3 RGB (5,6,7)
    out.write(0xc0 | 1)                           // p4,p5 RUN 2
    out.write(0x40 | (3 << 4) | (1 << 2) | 2)     // p6 DIFF +1,-1,0 → (6,5,7)
    (0 until 7).foreach(_ => out.write(0)); out.write(1)
    val d = Multimodal.decodeQoi(
      Iterator(Multimodal.MediaRow(3L, "image/qoi", out.toByteArray))).next()
    assert(d == QoiStats(3L, 7, 1, 42L, 65L, 91L, 450L))
  }

  test("decodeQoi: malformed payloads fail loudly") {
    def hdr(w: Int, h: Int): java.io.ByteArrayOutputStream = {
      val o = new java.io.ByteArrayOutputStream()
      "qoif".foreach(c => o.write(c))
      o.write(0); o.write(0); o.write(0); o.write(w)
      o.write(0); o.write(0); o.write(0); o.write(h)
      o.write(3); o.write(0); o
    }
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeQoi(Iterator(Multimodal.MediaRow(1L, "qoi",
        "qoix0000000000000000000000".getBytes))).toSeq
    }
    intercept[IllegalArgumentException] { // op stream truncated mid-image
      val o = hdr(4, 1); o.write(0xfe); o.write(9)
      Multimodal.decodeQoi(Iterator(Multimodal.MediaRow(2L, "qoi", o.toByteArray))).toSeq
    }
    intercept[IllegalArgumentException] { // run overruns the pixel count
      val o = hdr(2, 1); o.write(0xfe); o.write(1); o.write(2); o.write(3)
      o.write(0xc0 | 10)
      (0 until 7).foreach(_ => o.write(0)); o.write(1)
      Multimodal.decodeQoi(Iterator(Multimodal.MediaRow(3L, "qoi", o.toByteArray))).toSeq
    }
    intercept[IllegalArgumentException] { // end marker absent
      val o = hdr(1, 1); o.write(0xfe); o.write(1); o.write(2); o.write(3)
      (0 until 8).foreach(_ => o.write(7))
      Multimodal.decodeQoi(Iterator(Multimodal.MediaRow(4L, "qoi", o.toByteArray))).toSeq
    }
  }

  test("decodeTfRecord: valid shard round-trips; corruption fails loudly") {
    import spark.implicits._
    // the synthetic encoder writes real masked CRC32C; decode must agree
    val media = Seq(5L, 6L).map(Multimodal.syntheticTfRecord)
    val ok = Multimodal.decodeTfRecord(media.iterator).toSeq
    // id=5: n=2, lens = 5+(5+0)%11=10, 5+(6)%11=11 → total 21
    assert(ok.head.media_id == 5L && ok.head.n_records == 2L && ok.head.total_len == 21L)
    assert(ok.head.payload_sum ==
      (0 until 10).map(j => (5 * 13 + j) % 256).sum +
      (0 until 11).map(j => (5 * 13 + 7 + j) % 256).sum)
    intercept[IllegalArgumentException] { // flipped payload byte → CRC catches it
      val c = media.head.payload.clone(); c(14) = (c(14) ^ 0x01).toByte
      Multimodal.decodeTfRecord(Iterator(Multimodal.MediaRow(9L, "tfr", c))).toSeq
    }
    intercept[IllegalArgumentException] { // flipped length-CRC byte
      val c = media.head.payload.clone(); c(9) = (c(9) ^ 0x40).toByte
      Multimodal.decodeTfRecord(Iterator(Multimodal.MediaRow(9L, "tfr", c))).toSeq
    }
    intercept[IllegalArgumentException] { // truncated mid-header
      Multimodal.decodeTfRecord(Iterator(
        Multimodal.MediaRow(9L, "tfr", media.head.payload.take(6)))).toSeq
    }
  }

  test("decodeMidi: running status and multi-byte VLQ; framing enforced") {
    import graft.ops.Multimodal.MidiStats
    val o = new java.io.ByteArrayOutputStream()
    o.write("MThd".getBytes); Seq(0, 0, 0, 6, 0, 0, 0, 1, 0, 96).foreach(o.write)
    val t = new java.io.ByteArrayOutputStream()
    t.write(0x81); t.write(0x48)         // VLQ 0x81 0x48 = 200 ticks
    t.write(0x90); t.write(60); t.write(100) // note-on C4 vel 100
    t.write(0x10)                        // VLQ 16
    t.write(62); t.write(90)             // RUNNING STATUS note-on D4 vel 90
    t.write(0x00); t.write(0x80); t.write(60); t.write(64) // note-off
    t.write(0x00); t.write(0xff); t.write(0x2f); t.write(0x00)
    val body = t.toByteArray
    o.write("MTrk".getBytes)
    Seq(0, 0, 0, body.length).foreach(o.write); o.write(body)
    val d = Multimodal.decodeMidi(
      Iterator(Multimodal.MediaRow(2L, "audio/midi", o.toByteArray))).next()
    assert(d == MidiStats(2L, 1L, 2L, 216L, 122L, 190L))
    intercept[IllegalArgumentException] { // declared length too long → cursor check
      val bad = o.toByteArray.clone()
      bad(14 + 7) = (body.length + 2).toByte // corrupt MTrk length LSB
      Multimodal.decodeMidi(Iterator(Multimodal.MediaRow(3L, "midi",
        bad ++ Array[Byte](0, 0)))).toSeq
    }
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeMidi(Iterator(Multimodal.MediaRow(4L, "midi",
        "MThx..........".getBytes))).toSeq
    }
  }

  test("decodeJpegHeader: malformed payloads fail loudly") {
    def row(bytes: Array[Byte]) = Multimodal.MediaRow(1L, "image/jpeg", bytes)
    intercept[IllegalArgumentException] { // no SOI
      Multimodal.decodeJpegHeader(Iterator(row("nope".getBytes))).toSeq
    }
    intercept[IllegalArgumentException] { // EOI before any SOF
      Multimodal.decodeJpegHeader(Iterator(row(
        Array(0xff, 0xd8, 0xff, 0xd9, 0x00, 0x00).map(_.toByte)))).toSeq
    }
    intercept[IllegalArgumentException] { // segment length overruns payload
      Multimodal.decodeJpegHeader(Iterator(row(
        Array(0xff, 0xd8, 0xff, 0xfe, 0x7f, 0xff).map(_.toByte)))).toSeq
    }
    intercept[IllegalArgumentException] { // SOF length inconsistent with nc
      val out = new java.io.ByteArrayOutputStream()
      def u8(v: Int): Unit = out.write(v & 0xff)
      def u16(v: Int): Unit = { u8(v >> 8); u8(v) }
      u8(0xff); u8(0xd8); u8(0xff); u8(0xc0); u16(8 + 3)
      u8(8); u16(1); u16(1); u8(3) // claims 3 comps but length fits 1
      u8(0); u8(0); u8(0)
      Multimodal.decodeJpegHeader(Iterator(row(out.toByteArray))).toSeq
    }
  }

  test("decodeGif: hand-built two-frame animation, GCT/LCT skip, delays summed") {
    import graft.ops.Multimodal.GifStats
    val out = new java.io.ByteArrayOutputStream()
    def u8(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { u8(v); u8(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    u16(320); u16(200)
    u8(0x80 | 1); u8(0); u8(0) // GCT, 4 entries
    (0 until 12).foreach(_ => u8(0x55))
    u8(0x21); u8(0xfe); u8(2); u8('o'); u8('k'); u8(0) // comment
    // frame 1: GCE delay 10, image with LCT (2 entries)
    u8(0x21); u8(0xf9); u8(4); u8(0); u16(10); u8(0); u8(0)
    u8(0x2c); u16(0); u16(0); u16(320); u16(200); u8(0x80)
    (0 until 6).foreach(_ => u8(0x33))
    u8(2); u8(3); u8(1); u8(2); u8(3); u8(0)
    // frame 2: GCE delay 25, no LCT
    u8(0x21); u8(0xf9); u8(4); u8(0); u16(25); u8(0); u8(0)
    u8(0x2c); u16(0); u16(0); u16(320); u16(200); u8(0x00)
    u8(2); u8(1); u8(7); u8(0)
    u8(0x3b)
    val g = Multimodal.decodeGif(
      Iterator(Multimodal.MediaRow(5L, "image/gif", out.toByteArray))).next()
    assert(g == GifStats(5L, 320, 200, 2, 35L, 3))
  }

  test("decodeGif: malformed payloads fail loudly") {
    def row(bytes: Array[Byte]) = Multimodal.MediaRow(1L, "image/gif", bytes)
    intercept[IllegalArgumentException] { // wrong magic
      Multimodal.decodeGif(Iterator(row("GIF87aXXXXXXXX".getBytes))).toSeq
    }
    intercept[IllegalArgumentException] { // no trailer
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes); (0 until 7).foreach(_ => out.write(0))
      Multimodal.decodeGif(Iterator(row(out.toByteArray))).toSeq
    }
    intercept[IllegalArgumentException] { // sub-block overruns payload
      val out = new java.io.ByteArrayOutputStream()
      out.write("GIF89a".getBytes); (0 until 7).foreach(_ => out.write(0))
      out.write(0x21); out.write(0xfe); out.write(200); out.write('x')
      Multimodal.decodeGif(Iterator(row(out.toByteArray))).toSeq
    }
  }

  test("syntheticJpeg fixtures round-trip through the real parser") {
    import spark.implicits._
    import graft.ops.Multimodal.JpegDims
    val ids = Seq(0L, 1L, 2L, 3L, 6L, 245L).toDF("id")
    val dims = Multimodal.decode(Multimodal.fixtures(ids, "id")(Multimodal.syntheticJpeg))(
      Multimodal.decodeJpegHeader)
      .as[JpegDims].collect().sortBy(_.media_id)
    dims.foreach { j =>
      val id = j.media_id
      assert(j.height == 16 + (id % 240).toInt && j.width == 32 + (id % 200).toInt)
      assert(j.n_components == (if (id % 2 == 0) 3 else 1))
      assert(j.is_progressive == (id % 3 == 0))
      assert(j.n_skipped == 2 + (id % 2).toInt)
    }
  }

  test("syntheticPng fixtures round-trip through the real inflate + unfilter") {
    import spark.implicits._
    import graft.ops.Multimodal.PngStats
    val ids = Seq(0L, 1L, 4L, 9L, 31L, 62L).toDF("id")
    val stats = Multimodal.decode(Multimodal.fixtures(ids, "id")(Multimodal.syntheticPng))(
      Multimodal.decodePng)
      .as[PngStats].collect().sortBy(_.media_id)
    stats.foreach { p =>
      val id = p.media_id
      val (w, h) = (8 + (id % 9).toInt, 6 + (id % 7).toInt)
      assert(p.width == w && p.height == h)
      assert(p.bit_depth == 8 && p.color_type == 0)
      val raster = (0 until w * h).map(k => ((id * 31 + k) % 256).toInt)
      assert(p.raster_sum == raster.map(_.toLong).sum)
      assert(p.n_bright == raster.count(_ > 127).toLong)
      // all five filter paths ran: y%5 census
      assert(Seq(p.n_none, p.n_sub, p.n_up, p.n_avg, p.n_paeth)
        == (0 to 4).map(f => (0 until h).count(_ % 5 == f)))
    }
  }

  test("decodeSrt: hand-built cue track; malformed payloads fail loudly") {
    def row(s: String) = MediaRow(9L, "application/x-subrip", s.getBytes("UTF-8"))
    val good = "1\n00:00:01,000 --> 00:00:02,500\nhello\n\n" +
      "2\n00:00:04,000 --> 00:00:05,000\nworld again\n\n"
    val st = Multimodal.decodeSrt(Iterator(row(good))).next()
    assert(st.n_cues == 2 && st.total_dur_ms == 2500)
    assert(st.total_chars == 5 + 11 && st.max_gap_ms == 1500)
    assert(st.first_start_ms == 1000 && st.last_end_ms == 5000)
    intercept[IllegalArgumentException] { // out-of-order cue index
      Multimodal.decodeSrt(Iterator(row(good.replaceFirst("^1", "3")))).toSeq
    }
    intercept[IllegalArgumentException] { // end before start
      Multimodal.decodeSrt(Iterator(row(
        "1\n00:00:03,000 --> 00:00:02,000\nx\n\n"))).toSeq
    }
    intercept[IllegalArgumentException] { // overlapping cues
      Multimodal.decodeSrt(Iterator(row(good.replace("00:00:04,000", "00:00:02,000")))).toSeq
    }
    intercept[IllegalArgumentException] { // garbage timecode
      Multimodal.decodeSrt(Iterator(row("1\nnot a timecode\nx\n\n"))).toSeq
    }
  }

  test("decodeTar: round-trip + malformed payloads fail loudly") {
    import spark.implicits._
    import graft.ops.Multimodal.TarStats
    val good = Multimodal.syntheticTar(7L).payload
    val st = Multimodal.decodeTar(Iterator(MediaRow(7L, "application/x-tar", good))).next()
    // id=7: m=4 members, sizes 10+(7+13i)%300 for i<4 => 17,30,43,56
    assert(st.n_files == 4 && st.n_dirs == 1)
    assert(st.total_bytes == 17 + 30 + 43 + 56 && st.max_bytes == 56)
    assert(st.archive_bytes == 512L * (1 + 4 * 2) + 1024)
    def bad(b: Array[Byte]) =
      Multimodal.decodeTar(Iterator(MediaRow(7L, "application/x-tar", b))).toSeq
    intercept[IllegalArgumentException] { // corrupt a header checksum digit
      val c = good.clone(); c(148) = '7'.toByte; bad(c)
    }
    intercept[IllegalArgumentException] { // drop the trailer
      bad(good.dropRight(1024))
    }
    intercept[IllegalArgumentException] { // bad magic
      val c = good.clone(); c(257) = 'X'.toByte; bad(c)
    }
    intercept[IllegalArgumentException] { // signed size -1100: the cursor would not move
      val c = good.clone()
      val h = 512 // first file member's header (block 0 is the directory entry)
      "-0000002114".getBytes("US-ASCII").copyToArray(c, h + 124)
      (h + 148 until h + 156).foreach(c(_) = ' ')
      "%06o".format((h until h + 512).map(c(_) & 0xff).sum).getBytes("US-ASCII")
        .copyToArray(c, h + 148)
      c(h + 154) = 0
      bad(c)
    }
  }

  test("decodePng: malformed payloads fail loudly") {
    import spark.implicits._
    def row(b: Array[Byte]) = MediaRow(1L, "image/png", b)
    val good = Multimodal.syntheticPng(5L).payload
    intercept[IllegalArgumentException] { // bad signature
      Multimodal.decodePng(Iterator(row("nope".getBytes ++ good.drop(4)))).toSeq
    }
    intercept[IllegalArgumentException] { // CRC corrupted (flip a raster byte)
      val bad = good.clone(); bad(good.length - 20) = (bad(good.length - 20) ^ 0x40).toByte
      Multimodal.decodePng(Iterator(row(bad))).toSeq
    }
    intercept[IllegalArgumentException] { // truncated mid-chunk
      Multimodal.decodePng(Iterator(row(good.dropRight(7)))).toSeq
    }
  }
}
