package graft

import graft.ops.{ModelFormats, Multimodal}
import graft.ops.Multimodal.MediaRow

/** Model-artifact walker spec: round-trips against the fixture formulas
  * for all four formats (safetensors / NPY / GGUF / tf.Example) plus the
  * loud failures a model-registry ingest needs — truncated headers,
  * offset gaps, unknown dtypes, version drift, unaligned offsets, CRC
  * flips, malformed protobuf.
  */
class ModelFormatsSpec extends SparkSpec {
  private val ids = Seq(0L, 1L, 2L, 3L, 7L, 42L, 117L, 1234L)

  private def fixture(id: Long, make: Long => MediaRow): Array[Byte] = make(id).payload

  // ---------------- safetensors ----------------

  private def stDecode(b: Array[Byte], id: Long = 1L) =
    ModelFormats.decodeSafetensors(Iterator(MediaRow(id, "application/x-safetensors", b))).next()

  test("safetensors round-trip: stats match the fixture formulas") {
    for (id <- ids) {
      val st = stDecode(fixture(id, ModelFormats.syntheticSafetensors), id)
      val t = 2 + (id % 4).toInt
      val params = (0 until t).map(i => (1 + ((id + i) % 5)) * (1 + ((id + 3 * i) % 7)))
      val sizes = params.zipWithIndex.map { case (p, i) => p * (if (i % 2 == 0) 4 else 1) }
      assert(st.n_tensors == t && st.n_f32 == (t + 1) / 2 && st.n_i8 == t / 2, s"id $id census")
      assert(st.n_params == params.sum, s"id $id params")
      assert(st.data_bytes == sizes.sum && st.max_tensor_bytes == sizes.max, s"id $id bytes")
      assert(st.meta_format == "graft", s"id $id metadata")
      val expSum = (0 until t).map { i =>
        (0L until sizes(i)).map(j => (id + 11 * i + j) % 256).sum
      }.sum
      assert(st.data_sum == expSum, s"id $id data sum")
    }
  }

  test("safetensors loud failure: header length overruns payload") {
    val b = fixture(3L, ModelFormats.syntheticSafetensors)
    b(0) = 0xff.toByte; b(1) = 0xff.toByte
    val e = intercept[IllegalArgumentException](stDecode(b))
    assert(e.getMessage.contains("header length"))
  }

  test("safetensors loud failure: offset gap breaks the tiling check") {
    val b = fixture(3L, ModelFormats.syntheticSafetensors)
    val s = new String(b, 8, b.length - 8, "ISO-8859-1")
    // first tensor's data_offsets begin: "[0," -> "[1," (same byte count)
    val i = s.indexOf("\"data_offsets\":[0,")
    assert(i >= 0)
    b(8 + i + "\"data_offsets\":[".length) = '1'
    val e = intercept[IllegalArgumentException](stDecode(b))
    assert(e.getMessage.contains("offsets") || e.getMessage.contains("gap"))
  }

  test("safetensors loud failure: unknown dtype") {
    val b = fixture(3L, ModelFormats.syntheticSafetensors)
    val s = new String(b, 8, b.length - 8, "ISO-8859-1")
    val i = s.indexOf("\"F32\"")
    assert(i >= 0)
    b(8 + i + 1) = 'Q'
    val e = intercept[IllegalArgumentException](stDecode(b))
    assert(e.getMessage.contains("dtype"))
  }

  test("safetensors loud failure: header is not JSON") {
    val b = fixture(3L, ModelFormats.syntheticSafetensors)
    b(8) = 'X' // clobber the opening brace
    val e = intercept[IllegalArgumentException](stDecode(b))
    assert(e.getMessage.contains("safetensors header"))
  }

  // ---------------- NPY ----------------

  private def npyDecode(b: Array[Byte], id: Long = 1L) =
    ModelFormats.decodeNpy(Iterator(MediaRow(id, "application/x-npy", b))).next()

  test("npy round-trip: stats match the fixture formulas") {
    for (id <- ids) {
      val st = npyDecode(fixture(id, ModelFormats.syntheticNpy), id)
      val r = 1 + (id % 6); val c = 1 + (id % 9); val n = r * c
      assert(st.major == 1 && st.minor == 0 && st.n_dims == 2, s"id $id version/rank")
      assert(st.d0 == r && st.d1 == c && st.n_elems == n, s"id $id shape")
      assert(st.elem_bytes == 4 && st.fortran == 0 && st.header_bytes == 118, s"id $id header")
      val expSum = (0L until n).map(j => (id * 7 + j) % 1000 - 500).sum
      assert(st.data_sum == expSum, s"id $id data sum")
    }
  }

  test("npy loud failure: bad magic") {
    val b = fixture(3L, ModelFormats.syntheticNpy)
    b(1) = 'X'
    val e = intercept[IllegalArgumentException](npyDecode(b))
    assert(e.getMessage.contains("magic"))
  }

  test("npy loud failure: unsupported version") {
    val b = fixture(3L, ModelFormats.syntheticNpy)
    b(6) = 2
    val e = intercept[IllegalArgumentException](npyDecode(b))
    assert(e.getMessage.contains("version"))
  }

  test("npy loud failure: truncated data") {
    val b = fixture(3L, ModelFormats.syntheticNpy)
    val cut = java.util.Arrays.copyOfRange(b, 0, b.length - 4)
    val e = intercept[IllegalArgumentException](npyDecode(cut))
    assert(e.getMessage.contains("data length"))
  }

  test("npy loud failure: misaligned header length") {
    val b = fixture(3L, ModelFormats.syntheticNpy)
    b(8) = 117 // 10 + 117 is not 64-aligned
    val e = intercept[IllegalArgumentException](npyDecode(b))
    assert(e.getMessage.contains("64-aligned"))
  }

  test("npz composition: zip payload walk + per-member NPY decode") {
    for (id <- Seq(0L, 3L, 7L, 42L)) {
      val archive = fixture(id, ModelFormats.syntheticNpz)
      val members = Multimodal.decodeZipPayloads(
        Iterator(MediaRow(id, "application/x-npz", archive))).toSeq
      val n = 2 + (id % 3).toInt
      assert(members.length == n, s"id $id member count")
      members.zipWithIndex.foreach { case (mr, k) =>
        assert(mr.mime == s"arr_$k.npy", s"id $id member name order")
        val st = ModelFormats.decodeNpy(Iterator(mr)).next()
        val r = 1 + ((id + k) % 6); val c = 1 + ((id + k) % 9)
        assert(st.d0 == r && st.d1 == c, s"id $id member $k shape")
        val expSum = (0L until r * c).map(j => (id * 7 + 11 * k + j) % 1000 - 500).sum
        assert(st.data_sum == expSum, s"id $id member $k sum")
      }
    }
  }

  test("npz loud failure: corrupt deflate stream fails the zip CRC check") {
    val b = fixture(4L, ModelFormats.syntheticNpz) // id 4: members 0,1,2 (1 deflated)
    // flip a byte inside the second member's compressed data: local
    // header of arr_1.npy starts after member 0's stored bytes
    val s = new String(b, "ISO-8859-1")
    val lho1 = s.indexOf("arr_1.npy")
    assert(lho1 >= 0)
    b(lho1 + 20) = (b(lho1 + 20) ^ 0x7f).toByte
    val e = intercept[Exception](Multimodal.decodeZipPayloads(
      Iterator(MediaRow(4L, "application/x-npz", b))).toList)
    // depending on where the flip lands, either the Inflater itself
    // rejects the stream or the post-inflate CRC check fires — both
    // are the loud path
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("inflate") ||
      e.getMessage.contains("invalid"), s"unexpected failure: ${e.getMessage}")
  }

  // ---------------- GGUF ----------------

  private def ggufDecode(b: Array[Byte], id: Long = 1L) =
    ModelFormats.decodeGguf(Iterator(MediaRow(id, "application/x-gguf", b))).next()

  test("gguf round-trip: stats match the fixture formulas (all KV arities)") {
    for (id <- ids) { // ids cover kvs = 2, 3 and 4
      val st = ggufDecode(fixture(id, ModelFormats.syntheticGguf), id)
      val t = 1 + (id % 4).toInt
      val kvs = 2 + (id % 3).toInt
      val params = (0 until t).map(i => (1 + ((id + i) % 5)) * (1 + ((id + 3 * i) % 7)))
      val sizes = params.zipWithIndex.map { case (p, i) => p * (if (i % 2 == 0) 4L else 2L) }
      def al(x: Long) = ((x + 31) / 32) * 32
      assert(st.version == 3 && st.n_kv == kvs && st.n_tensors == t, s"id $id header")
      assert(st.n_f32 == (t + 1) / 2 && st.n_f16 == t / 2, s"id $id type census")
      assert(st.layer_count == 1 + id % 7, s"id $id layer_count")
      assert(st.ctx_len == (if (kvs >= 3) 128 + id % 512 else 0L), s"id $id ctx")
      val expArr = if (kvs >= 4) (0 until (2 + (id % 3).toInt)).map(j => (id + j) % 100).sum else 0L
      assert(st.arr_sum == expArr, s"id $id array")
      assert(st.n_params == params.sum && st.data_bytes == sizes.sum, s"id $id mass")
      assert(st.pad_bytes == sizes.dropRight(1).map(s0 => al(s0) - s0).sum, s"id $id pad")
      val expSum = (0 until t).map { i =>
        (0L until sizes(i)).map(j => (id + 13 * i + j) % 256).sum
      }.sum
      assert(st.data_sum == expSum, s"id $id data sum")
    }
  }

  test("gguf loud failure: bad magic") {
    val b = fixture(3L, ModelFormats.syntheticGguf)
    b(0) = 'X'
    val e = intercept[IllegalArgumentException](ggufDecode(b))
    assert(e.getMessage.contains("magic"))
  }

  test("gguf loud failure: unsupported version") {
    val b = fixture(3L, ModelFormats.syntheticGguf)
    b(4) = 2
    val e = intercept[IllegalArgumentException](ggufDecode(b))
    assert(e.getMessage.contains("version"))
  }

  test("gguf loud failure: wrong tensor offset") {
    // hand-built minimal file: 1 tensor whose stored offset is 32
    // where 0 is expected — the recomputed-offset check must fire
    // before any data is read
    val out = new java.io.ByteArrayOutputStream()
    def wU32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    def wU64(v: Long): Unit = (0 until 8).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    out.write("GGUF".getBytes("US-ASCII")); wU32(3); wU64(1); wU64(0)
    wU64(1); out.write('a'); wU32(1); wU64(2); wU32(0); wU64(32)
    val e = intercept[IllegalArgumentException](ggufDecode(out.toByteArray))
    assert(e.getMessage.contains("offset"))
  }

  test("gguf loud failure: trailing bytes break the length check") {
    val b = fixture(3L, ModelFormats.syntheticGguf)
    val e = intercept[IllegalArgumentException](ggufDecode(b :+ 0.toByte))
    assert(e.getMessage.contains("file length"))
  }

  test("gguf loud failure: unsupported KV type") {
    val out = new java.io.ByteArrayOutputStream()
    def wU32(v: Long): Unit = (0 until 4).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    def wU64(v: Long): Unit = (0 until 8).foreach(k => out.write(((v >> (8 * k)) & 0xff).toInt))
    out.write("GGUF".getBytes("US-ASCII")); wU32(3); wU64(0); wU64(1)
    wU64(1); out.write('b'); wU32(7); out.write(1) // bool KV — not in this walker's contract
    val e = intercept[IllegalArgumentException](ggufDecode(out.toByteArray))
    assert(e.getMessage.contains("KV type"))
  }

  // ---------------- tf.Example ----------------

  private def tfeDecode(b: Array[Byte], id: Long = 1L) =
    ModelFormats.decodeTfExample(Iterator(MediaRow(id, "application/x-tfexample", b))).next()

  /** Frame one payload as a TFRecord with REAL masked CRCs — lets the
    * proto-level loud failures be tested behind valid framing. */
  private def frame(payload: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val hdr = new Array[Byte](8)
    (0 until 8).foreach(k => hdr(k) = ((payload.length.toLong >> (8 * k)) & 0xff).toByte)
    out.write(hdr)
    val lc = Multimodal.maskedCrc(hdr, 0, 8)
    (0 until 4).foreach(k => out.write((lc >>> (8 * k)) & 0xff))
    out.write(payload)
    val pc = Multimodal.maskedCrc(payload, 0, payload.length)
    (0 until 4).foreach(k => out.write((pc >>> (8 * k)) & 0xff))
    out.toByteArray
  }

  test("tfexample round-trip: stats match the fixture formulas") {
    for (id <- ids) {
      val st = tfeDecode(fixture(id, ModelFormats.syntheticTfExample), id)
      val n = 1 + (id % 3).toInt
      val ls = (0 until n).map(k => 5 + ((id + k) % 20))
      val ms = (0 until n).map(k => 2 + ((id + k) % 3).toInt)
      assert(st.n_records == n && st.n_entries == 3L * n, s"id $id records")
      assert(st.n_bytes_vals == n && st.n_int_vals == 2L * n, s"id $id kinds")
      assert(st.n_float_vals == ms.map(_.toLong).sum, s"id $id floats")
      assert(st.bytes_len_sum == ls.sum, s"id $id byte mass")
      val expByteSum = (0 until n).map { k =>
        (0L until ls(k)).map(j => 97 + (id + k + j) % 26).sum
      }.sum
      assert(st.byte_sum == expByteSum, s"id $id byte sum")
      val expIntSum = (0 until n).map(k => (id + k) % 10 + 300 + (id + k) % 200).sum
      assert(st.int_sum == expIntSum, s"id $id int sum")
      val expF2 = (0 until n).map { k =>
        (0 until ms(k)).map(j => 2 * ((id + k) % 7) + j).sum
      }.sum
      assert(st.float_2sum == expF2, s"id $id float sum")
    }
  }

  test("tfexample loud failure: payload bit flip fails the CRC, not the census") {
    val b = fixture(3L, ModelFormats.syntheticTfExample)
    b(20) = (b(20) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](tfeDecode(b))
    assert(e.getMessage.contains("CRC"))
  }

  test("tfexample loud failure: truncated varint behind a valid frame") {
    val e = intercept[IllegalArgumentException](tfeDecode(frame(Array(0x80.toByte))))
    assert(e.getMessage.contains("varint"))
  }

  test("tfexample loud failure: unknown Feature kind") {
    // Example{1: Features{1: entry{1: "k", 2: Feature{4: ...}}}}
    def varint(v: Long): Array[Byte] = {
      var x = v; val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((x & ~0x7fL) != 0) { buf += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      buf += (x & 0x7f).toByte; buf.toArray
    }
    def ld(f: Int, body: Array[Byte]): Array[Byte] =
      varint((f << 3) | 2L) ++ varint(body.length.toLong) ++ body
    val feat = ld(4, Array[Byte](1)) // field 4: no such Feature kind
    val entry = ld(1, ld(1, "k".getBytes) ++ ld(2, feat))
    val e = intercept[IllegalArgumentException](tfeDecode(frame(ld(1, entry))))
    assert(e.getMessage.contains("Feature kind"))
  }

  test("tfexample loud failure: non-half-integer float") {
    def varint(v: Long): Array[Byte] = {
      var x = v; val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      while ((x & ~0x7fL) != 0) { buf += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      buf += (x & 0x7f).toByte; buf.toArray
    }
    def ld(f: Int, body: Array[Byte]): Array[Byte] =
      varint((f << 3) | 2L) ++ varint(body.length.toLong) ++ body
    val bits = java.lang.Float.floatToIntBits(0.3f)
    val packed = Array.tabulate(4)(k => ((bits >> (8 * k)) & 0xff).toByte)
    val feat = ld(2, ld(1, packed)) // FloatList{[0.3f]}
    val entry = ld(1, ld(1, "w".getBytes) ++ ld(2, feat))
    val e = intercept[IllegalArgumentException](tfeDecode(frame(ld(1, entry))))
    assert(e.getMessage.contains("half-integer"))
  }
}
