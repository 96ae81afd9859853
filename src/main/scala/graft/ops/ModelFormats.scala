package graft.ops

import Multimodal.{MediaRow, Payload}

/** Model-artifact format walkers — the shipping formats of the ML side
  * of a training pipeline, joining [[Multimodal]]'s 22 container/codec
  * decoders (reference analogue: the S3 binary-get seam,
  * adapters/s3/src/index.ts:156-178 — whole-object Buffer in, typed
  * census out):
  *
  *  23. safetensors — the HuggingFace weight container (8-byte LE
  *      header length + JSON tensor map + raw data); offsets must tile
  *      the data section exactly.
  *  24. NPY v1.0 — the NumPy array file (magic, u16 header length,
  *      Python-dict header, raw little-endian data).
  *  25. GGUF v3 — the llama.cpp model container (typed metadata KVs +
  *      tensor infos + 32-byte-aligned data blocks).
  *  26. protobuf tf.Example — the payload INSIDE the TFRecord framing
  *      ([[Multimodal.decodeTfRecord]] walks the frames; this walker
  *      additionally parses each frame's bytes as a real protobuf
  *      wire-format Example: varint tags, length-delimited submessages,
  *      packed int64/float lists).
  *
  * Same discipline as the other walkers: the fixtures are analytic
  * (every emitted stat is a formula of the id, replayable by a SQL
  * oracle that never parses a byte), the decoders are REAL byte-level
  * parsers whose validation paths (magic, framing, offset tiling,
  * alignment, CRC) run on every row and fail LOUDLY on corruption, and
  * both plug into [[Multimodal.decode]] / [[Multimodal.fixtures]] —
  * one narrow mapPartitions, no shuffle, no driver round-trip,
  * payloads stay columnar binary at 100 TB.
  */
object ModelFormats {

  // ---------------------------------------------------------------
  // Minimal JSON parser for the safetensors header: objects, arrays,
  // strings (with escapes), non-negative integer numbers, booleans.
  // Hand-rolled so the walker owns its failure modes (a truncated or
  // trailing-garbage header fails loudly with a position).
  // ---------------------------------------------------------------
  sealed trait JVal
  final case class JObj(fields: Vector[(String, JVal)]) extends JVal
  final case class JArr(items: Vector[JVal]) extends JVal
  final case class JStr(s: String) extends JVal
  final case class JNum(n: Long) extends JVal
  final case class JBool(b: Boolean) extends JVal

  private final class JsonParser(s: String, what: String) {
    private var i = 0
    private def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$what: $msg at $i")
    private def ws(): Unit = { while (i < s.length && s(i).isWhitespace) i += 1 }
    private def expect(c: Char): Unit = {
      if (i >= s.length || s(i) != c) fail(s"expected '$c'")
      i += 1
    }
    private def str(): String = {
      expect('"')
      val sb = new StringBuilder
      while (i < s.length && s(i) != '"') {
        if (s(i) == '\\') {
          if (i + 1 >= s.length) fail("dangling escape")
          s(i + 1) match {
            case '"' => sb += '"'; case '\\' => sb += '\\'; case '/' => sb += '/'
            case 'n' => sb += '\n'; case 't' => sb += '\t'; case 'r' => sb += '\r'
            case c => fail(s"unsupported escape \\$c")
          }
          i += 2
        } else { sb += s(i); i += 1 }
      }
      expect('"')
      sb.toString
    }
    private def value(): JVal = {
      ws()
      if (i >= s.length) fail("unexpected end")
      s(i) match {
        case '{' =>
          i += 1; ws()
          val fs = Vector.newBuilder[(String, JVal)]
          if (i < s.length && s(i) == '}') { i += 1 }
          else {
            var more = true
            while (more) {
              ws(); val k = str(); ws(); expect(':')
              fs += ((k, value()))
              ws()
              if (i < s.length && s(i) == ',') { i += 1 }
              else { expect('}'); more = false }
            }
          }
          JObj(fs.result())
        case '[' =>
          i += 1; ws()
          val it = Vector.newBuilder[JVal]
          if (i < s.length && s(i) == ']') { i += 1 }
          else {
            var more = true
            while (more) {
              it += value(); ws()
              if (i < s.length && s(i) == ',') { i += 1 }
              else { expect(']'); more = false }
            }
          }
          JArr(it.result())
        case '"' => JStr(str())
        case 't' =>
          if (!s.startsWith("true", i)) fail("bad literal"); i += 4; JBool(true)
        case 'f' =>
          if (!s.startsWith("false", i)) fail("bad literal"); i += 5; JBool(false)
        case c if c.isDigit =>
          var n = 0L
          while (i < s.length && s(i).isDigit) {
            n = n * 10 + (s(i) - '0')
            if (n < 0) fail("number overflow")
            i += 1
          }
          JNum(n)
        case c => fail(s"unexpected '$c'")
      }
    }
    def parse(): JVal = {
      val v = value()
      ws()
      if (i != s.length) fail("trailing bytes after JSON value")
      v
    }
  }

  private def parseJson(s: String, what: String): JVal = new JsonParser(s, what).parse()

  // =================================================================
  // 23. safetensors
  // =================================================================

  /** Parsed safetensors file: tensor census by dtype, exact parameter
    * and byte mass, and the raw-data byte sum (the tiling witness — a
    * walker that mis-frames one tensor sums the wrong bytes).
    */
  final case class SafetensorsStats(media_id: Long, n_tensors: Int,
                                    n_f32: Int, n_i8: Int, n_params: Long,
                                    data_bytes: Long, max_tensor_bytes: Long,
                                    meta_format: String, data_sum: Long)

  private val StDtypeBytes: Map[String, Int] = Map(
    "F64" -> 8, "F32" -> 4, "F16" -> 2, "BF16" -> 2, "I64" -> 8,
    "I32" -> 4, "I16" -> 2, "I8" -> 1, "U8" -> 1, "BOOL" -> 1)

  /** REAL safetensors decoder (public spec: huggingface/safetensors):
    * u64 LE header length, a JSON object mapping tensor name →
    * {dtype, shape, data_offsets}, then the data section. Validates
    * per tensor that `end − begin = Π shape × sizeof(dtype)` and that
    * the offsets, sorted, tile the data section EXACTLY (begin 0, no
    * gaps, end = section length) — the invariant the format exists
    * for. Malformed files fail loudly.
    */
  def decodeSafetensors(rows: Iterator[MediaRow]): Iterator[SafetensorsStats] = rows.map { r =>
    val b = r.payload
    val hlen = Payload(r).u64le(0, "header length")
    require(hlen > 0 && hlen <= b.length - 8,
      s"header length $hlen overruns payload (${b.length}): media ${r.media_id}")
    val header = new String(b, 8, hlen.toInt, java.nio.charset.StandardCharsets.UTF_8)
    val dataLen = b.length - 8 - hlen
    val obj = parseJson(header.trim, s"safetensors header (media ${r.media_id})") match {
      case o: JObj => o
      case _ => throw new IllegalArgumentException(
        s"header is not a JSON object: media ${r.media_id}")
    }
    var metaFormat = ""
    var spans = List.empty[(Long, Long)] // (begin, end)
    var (nT, nF32, nI8, params, maxB) = (0, 0, 0, 0L, 0L)
    obj.fields.foreach {
      case ("__metadata__", JObj(fs)) =>
        fs.collectFirst { case ("format", JStr(v)) => v }.foreach(metaFormat = _)
      case ("__metadata__", _) => throw new IllegalArgumentException(
        s"__metadata__ is not an object: media ${r.media_id}")
      case (name, JObj(fs)) =>
        val m = fs.toMap
        val dtype = m.get("dtype") match {
          case Some(JStr(d)) => d
          case _ => throw new IllegalArgumentException(
            s"tensor $name missing dtype: media ${r.media_id}")
        }
        val esize = StDtypeBytes.getOrElse(dtype, throw new IllegalArgumentException(
          s"tensor $name has unknown dtype $dtype: media ${r.media_id}"))
        val shape = m.get("shape") match {
          case Some(JArr(items)) => items.map {
            case JNum(n) => n
            case _ => throw new IllegalArgumentException(
              s"tensor $name has non-integer dim: media ${r.media_id}")
          }
          case _ => throw new IllegalArgumentException(
            s"tensor $name missing shape: media ${r.media_id}")
        }
        val (begin, end) = m.get("data_offsets") match {
          case Some(JArr(Vector(JNum(s0), JNum(e0)))) => (s0, e0)
          case _ => throw new IllegalArgumentException(
            s"tensor $name missing data_offsets: media ${r.media_id}")
        }
        val nElems = shape.foldLeft(1L)(_ * _)
        require(end >= begin && end - begin == nElems * esize,
          s"tensor $name offsets [$begin,$end) != ${nElems}x$esize bytes: media ${r.media_id}")
        spans ::= ((begin, end))
        nT += 1
        if (dtype == "F32") nF32 += 1
        if (dtype == "I8") nI8 += 1
        params += nElems
        maxB = math.max(maxB, end - begin)
      case (name, _) => throw new IllegalArgumentException(
        s"entry $name is not an object: media ${r.media_id}")
    }
    // the tiling check: sorted spans must cover [0, dataLen) exactly
    val sorted = spans.sortBy(_._1)
    var cursor = 0L
    sorted.foreach { case (s0, e0) =>
      require(s0 == cursor,
        s"data_offsets gap/overlap at $s0 (expected $cursor): media ${r.media_id}")
      cursor = e0
    }
    require(cursor == dataLen,
      s"tensors cover $cursor of $dataLen data bytes: media ${r.media_id}")
    var dSum = 0L
    var i = (8 + hlen).toInt
    while (i < b.length) { dSum += b(i) & 0xff; i += 1 }
    SafetensorsStats(r.media_id, nT, nF32, nI8, params,
      dataLen, maxB, metaFormat, dSum)
  }

  /** Deterministic safetensors fixture per id: T = 2 + id%4 tensors;
    * tensor i is F32 (i even) or I8 (i odd) with shape
    * [1 + (id+i)%5, 1 + (id+3i)%7], contiguous offsets in index order,
    * data byte j = (id + 11i + j) mod 256; __metadata__.format =
    * "graft". Header padded with spaces so the data section is
    * 8-aligned (the official writer's convention — exercises the
    * parser's trailing-whitespace path on every row).
    */
  def syntheticSafetensors(id: Long): MediaRow = {
    val t = 2 + (id % 4).toInt
    val dims = (0 until t).map { i =>
      (1 + ((id + i) % 5).toInt, 1 + ((id + 3 * i) % 7).toInt)
    }
    val sizes = dims.zipWithIndex.map { case ((r, c), i) =>
      r.toLong * c * (if (i % 2 == 0) 4 else 1)
    }
    val begins = sizes.scanLeft(0L)(_ + _)
    val entries = (0 until t).map { i =>
      val (r, c) = dims(i)
      val dt = if (i % 2 == 0) "F32" else "I8"
      f""""t$i%02d":{"dtype":"$dt","shape":[$r,$c],"data_offsets":[${begins(i)},${begins(i + 1)}]}"""
    }
    val json = s"""{"__metadata__":{"format":"graft"},${entries.mkString(",")}}"""
    val pad = (8 - (json.length % 8)) % 8
    val header = json + (" " * pad)
    val out = new java.io.ByteArrayOutputStream()
    var k = 0
    while (k < 8) { out.write(((header.length.toLong >> (8 * k)) & 0xff).toInt); k += 1 }
    out.write(header.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (0 until t).foreach { i =>
      var j = 0L
      while (j < sizes(i)) { out.write(((id + 11 * i + j) % 256).toInt); j += 1 }
    }
    MediaRow(id, "application/x-safetensors", out.toByteArray)
  }

  // =================================================================
  // 24. NPY v1.0
  // =================================================================

  /** Parsed NPY file: version, shape, element size, storage order and
    * the exact element sum (the endianness witness — a walker that
    * reads big-endian sums the wrong values).
    */
  final case class NpyStats(media_id: Long, major: Int, minor: Int,
                            n_dims: Int, d0: Long, d1: Long, n_elems: Long,
                            elem_bytes: Int, fortran: Int, header_bytes: Int,
                            data_sum: Long)

  /** REAL NPY v1.0 decoder (public spec: numpy/numpy, format.py):
    * magic `\\x93NUMPY`, version bytes, u16 LE header length, an ASCII
    * Python-dict header (descr / fortran_order / shape) terminated by
    * `\\n`, then raw data. Validates the total length against
    * `Π shape × sizeof(descr)` and sums `<i4` elements exactly.
    */
  def decodeNpy(rows: Iterator[MediaRow]): Iterator[NpyStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    require(in.u8(0, "magic") == 0x93 && in.ascii(1, 5, "magic") == "NUMPY",
      s"bad NPY magic: media ${r.media_id}")
    val major = in.u8(6, "version")
    val minor = in.u8(7, "version")
    require(major == 1 && minor == 0,
      s"unsupported NPY version $major.$minor: media ${r.media_id}")
    val hlen = in.u16le(8, "header length")
    require(10 + hlen <= b.length, s"header overruns payload: media ${r.media_id}")
    require((10 + hlen) % 64 == 0,
      s"header not 64-aligned (${10 + hlen}): media ${r.media_id}")
    val header = in.ascii(10, hlen, "header")
    require(header.endsWith("\n"), s"header not newline-terminated: media ${r.media_id}")
    def dictField(key: String): String = {
      val m = s"'$key':".r.findFirstMatchIn(header).getOrElse(
        throw new IllegalArgumentException(s"header missing '$key': media ${r.media_id}"))
      header.substring(m.end).dropWhile(_ == ' ')
    }
    val descrRest = dictField("descr")
    require(descrRest.startsWith("'"), s"descr not a string: media ${r.media_id}")
    val descr = descrRest.drop(1).takeWhile(_ != '\'')
    val esize = descr match {
      case "<i4" => 4; case "<i8" => 8; case "<f4" => 4; case "<f8" => 8
      case "|i1" | "|u1" => 1
      case d => throw new IllegalArgumentException(
        s"unsupported descr '$d': media ${r.media_id}")
    }
    val fortran = dictField("fortran_order") match {
      case s if s.startsWith("True") => 1
      case s if s.startsWith("False") => 0
      case _ => throw new IllegalArgumentException(
        s"bad fortran_order: media ${r.media_id}")
    }
    val shapeRest = dictField("shape")
    require(shapeRest.startsWith("("), s"shape not a tuple: media ${r.media_id}")
    val inner = shapeRest.drop(1).takeWhile(_ != ')')
    val dims = inner.split(",").map(_.trim).filter(_.nonEmpty).map { s =>
      require(s.forall(_.isDigit), s"non-integer dim '$s': media ${r.media_id}")
      in.number(s, "shape dim")(_.toLong)
    }
    require(dims.length >= 1 && dims.length <= 2,
      s"unsupported rank ${dims.length}: media ${r.media_id}")
    val nElems = dims.product
    require(b.length.toLong == 10L + hlen + nElems * esize,
      s"data length ${b.length - 10 - hlen} != $nElems x $esize: media ${r.media_id}")
    require(descr == "<i4", s"element sum needs <i4, got '$descr': media ${r.media_id}")
    var (sum, i) = (0L, 10 + hlen)
    while (i < b.length) { sum += in.u32le(i).toInt; i += 4 } // toInt: sign-extend i32
    NpyStats(r.media_id, major, minor, dims.length, dims(0),
      if (dims.length > 1) dims(1) else 1L, nElems, esize, fortran, hlen, sum)
  }

  /** One `<i4` C-order NPY file: shape (r, c), element j (row-major) =
    * (vSeed + j) mod 1000 − 500, constant 118-byte padded header.
    * Shared by the standalone NPY fixture and the NPZ archive members.
    */
  private[ops] def npyBytes(rDim: Int, cDim: Int, vSeed: Long): Array[Byte] = {
    val dict = s"{'descr': '<i4', 'fortran_order': False, 'shape': ($rDim, $cDim), }"
    val hlen = 118
    require(dict.length + 1 <= hlen, s"fixture dict too long (${dict.length})")
    val header = dict + (" " * (hlen - dict.length - 1)) + "\n"
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x93)
    out.write("NUMPY".getBytes("US-ASCII"))
    out.write(1); out.write(0)
    out.write(hlen & 0xff); out.write((hlen >> 8) & 0xff)
    out.write(header.getBytes("US-ASCII"))
    val n = rDim * cDim
    var j = 0
    while (j < n) {
      val v = ((vSeed + j) % 1000).toInt - 500
      out.write(v & 0xff); out.write((v >> 8) & 0xff)
      out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
      j += 1
    }
    out.toByteArray
  }

  /** Deterministic NPY fixture per id: `<i4` C-order matrix of shape
    * (1 + id%6, 1 + id%9), element j (row-major) =
    * ((id·7 + j) mod 1000) − 500, header space-padded to the constant
    * length 118 (10 + 118 = 128, 64-aligned — single-digit dims keep
    * the dict text constant-width).
    */
  def syntheticNpy(id: Long): MediaRow = {
    MediaRow(id, "application/x-npy",
      npyBytes(1 + (id % 6).toInt, 1 + (id % 9).toInt, id * 7))
  }

  /** Deterministic NPZ fixture per id: a real ZIP archive of
    * n = 2 + id%3 members "arr_<k>.npy" — member k is an NPY of shape
    * (1 + (id+k)%6, 1 + (id+k)%9) with element seed id·7 + 11k, STORED
    * for even k, raw-DEFLATED for odd (both zip paths run per archive).
    */
  def syntheticNpz(id: Long): MediaRow = {
    val n = 2 + (id % 3).toInt
    val entries = (0 until n).map { k =>
      (s"arr_$k.npy",
        npyBytes(1 + ((id + k) % 6).toInt, 1 + ((id + k) % 9).toInt,
          id * 7 + 11 * k),
        k % 2 == 0)
    }
    MediaRow(id, "application/x-npz", Multimodal.zipArchive(entries))
  }

  // =================================================================
  // 25. GGUF v3
  // =================================================================

  /** Parsed GGUF file: metadata census (typed KVs), tensor census by
    * ggml type, exact parameter/byte/padding mass and the data byte
    * sum (the alignment witness — a walker that mis-computes one
    * aligned offset sums padding as data).
    */
  final case class GgufStats(media_id: Long, version: Int, n_kv: Int,
                             n_tensors: Int, n_f32: Int, n_f16: Int,
                             layer_count: Long, ctx_len: Long, arr_sum: Long,
                             n_params: Long, data_bytes: Long, pad_bytes: Long,
                             data_sum: Long)

  private val GgufAlign = 32L
  private def align32(x: Long): Long = ((x + GgufAlign - 1) / GgufAlign) * GgufAlign

  /** REAL GGUF v3 decoder (public spec: ggml-org/ggml docs/gguf.md):
    * magic `GGUF`, u32 version, u64 tensor and KV counts, typed
    * metadata KVs (string / u32 / u64 / i32-array here; loud failure
    * on any other type), tensor infos (name, dims, ggml type, offset),
    * then 32-aligned data blocks. Every tensor's stored offset is
    * VERIFIED against the recomputed aligned running offset, and the
    * file length against the data section's span.
    */
  def decodeGguf(rows: Iterator[MediaRow]): Iterator[GgufStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    var i = 0L
    // the walk reads at the cursor `i`, then moves it past the field
    def adv[T](width: Long)(v: T): T = { i += width; v }
    def rdStr(what: String): String = {
      val n = adv(8)(in.u64le(i, s"$what length"))
      in.need(i, n, what)
      adv(n)(new String(b, i.toInt, n.toInt, java.nio.charset.StandardCharsets.UTF_8))
    }
    require(adv(4)(in.ascii(0, 4, "magic")) == "GGUF", s"bad GGUF magic: media ${r.media_id}")
    val version = adv(4)(in.u32le(i, "version")).toInt
    require(version == 3, s"unsupported GGUF version $version: media ${r.media_id}")
    val nTensors = adv(8)(in.u64le(i, "tensor count"))
    val nKv = adv(8)(in.u64le(i, "KV count"))
    var (layerCount, ctxLen, arrSum) = (0L, 0L, 0L)
    var k = 0L
    while (k < nKv) {
      val key = rdStr("KV key")
      val vtype = adv(4)(in.u32le(i, "KV type")).toInt
      vtype match {
        case 8 => // string
          val v = rdStr("string value")
          require(key != "general.architecture" || v == "graft",
            s"unexpected architecture '$v': media ${r.media_id}")
        case 4 => // u32
          val v = adv(4)(in.u32le(i, "u32 value"))
          if (key == "graft.layer_count") layerCount = v
        case 10 => // u64
          val v = adv(8)(in.u64le(i, "u64 value"))
          if (key == "graft.context_length") ctxLen = v
        case 9 => // array
          val etype = adv(4)(in.u32le(i, "array element type")).toInt
          require(etype == 5, s"unsupported array elem type $etype: media ${r.media_id}")
          val n = adv(8)(in.u64le(i, "array length"))
          var j = 0L
          while (j < n) { arrSum += adv(4)(in.u32le(i, "i32 element")).toInt; j += 1 }
        case t => throw new IllegalArgumentException(
          s"unsupported KV type $t for '$key': media ${r.media_id}")
      }
      k += 1
    }
    var (nF32, nF16, params, dataBytes, padBytes) = (0, 0, 0L, 0L, 0L)
    var expectOff = 0L
    var lastEnd = 0L
    val spanSizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    var t = 0L
    while (t < nTensors) {
      rdStr("tensor name") // length-framed; content not a census field
      val nDims = adv(4)(in.u32le(i, "n_dims")).toInt
      require(nDims >= 1 && nDims <= 4, s"bad n_dims $nDims: media ${r.media_id}")
      var ne = 1L
      var d = 0
      while (d < nDims) { ne *= adv(8)(in.u64le(i, "dim")); d += 1 }
      val gtype = adv(4)(in.u32le(i, "ggml type")).toInt
      val esize = gtype match {
        case 0 => nF32 += 1; 4L // GGML_TYPE_F32
        case 1 => nF16 += 1; 2L // GGML_TYPE_F16
        case g => throw new IllegalArgumentException(
          s"unsupported ggml type $g: media ${r.media_id}")
      }
      val off = adv(8)(in.u64le(i, "tensor offset"))
      require(off == expectOff,
        s"tensor $t offset $off != expected $expectOff: media ${r.media_id}")
      require(off % GgufAlign == 0,
        s"tensor $t offset $off unaligned: media ${r.media_id}")
      val nb = ne * esize
      params += ne
      dataBytes += nb
      lastEnd = off + nb
      spanSizes += nb
      val aligned = align32(nb)
      if (t < nTensors - 1) padBytes += aligned - nb
      expectOff = off + aligned
      t += 1
    }
    val dataStart = align32(i)
    require(b.length.toLong == dataStart + lastEnd,
      s"file length ${b.length} != data end ${dataStart + lastEnd}: media ${r.media_id}")
    // sum ONLY real tensor bytes (walk the verified spans; padding
    // between blocks is excluded — the alignment witness)
    var dSum = 0L
    var off2 = 0L
    spanSizes.foreach { nb =>
      var q = 0L
      while (q < nb) { dSum += b((dataStart + off2 + q).toInt) & 0xff; q += 1 }
      off2 += align32(nb)
    }
    GgufStats(r.media_id, version, nKv.toInt, nTensors.toInt, nF32, nF16,
      layerCount, ctxLen, arrSum, params, dataBytes, padBytes, dSum)
  }

  /** Deterministic GGUF v3 fixture per id: K = 2 + id%3 KVs
    * (architecture string; layer_count u32 = 1 + id%7; when K ≥ 3
    * context_length u64 = 128 + id%512; when K = 4 an i32 array of
    * m = 2 + id%3 values (id+j)%100), T = 1 + id%4 tensors — tensor i
    * is F32 (even) / F16 (odd) with dims [1+(id+i)%5, 1+(id+3i)%7],
    * 32-aligned offsets, data byte j = (id + 13i + j) mod 256,
    * zero-padded gaps.
    */
  def syntheticGguf(id: Long): MediaRow = {
    val out = new java.io.ByteArrayOutputStream()
    def wU32(v: Long): Unit = {
      var k = 0
      while (k < 4) { out.write(((v >> (8 * k)) & 0xff).toInt); k += 1 }
    }
    def wU64(v: Long): Unit = {
      var k = 0
      while (k < 8) { out.write(((v >> (8 * k)) & 0xff).toInt); k += 1 }
    }
    def wStr(s: String): Unit = {
      val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      wU64(bs.length.toLong); out.write(bs)
    }
    val t = 1 + (id % 4).toInt
    val kvs = 2 + (id % 3).toInt
    out.write("GGUF".getBytes("US-ASCII"))
    wU32(3L)
    wU64(t.toLong)
    wU64(kvs.toLong)
    wStr("general.architecture"); wU32(8L); wStr("graft")
    wStr("graft.layer_count"); wU32(4L); wU32(1L + id % 7)
    if (kvs >= 3) { wStr("graft.context_length"); wU32(10L); wU64(128L + id % 512) }
    if (kvs >= 4) {
      wStr("graft.scores"); wU32(9L); wU32(5L)
      val m = 2 + (id % 3).toInt
      wU64(m.toLong)
      (0 until m).foreach(j => wU32((id + j) % 100))
    }
    val dims = (0 until t).map { i =>
      (1L + (id + i) % 5, 1L + (id + 3 * i) % 7)
    }
    val sizes = dims.zipWithIndex.map { case ((r, c), i) =>
      r * c * (if (i % 2 == 0) 4L else 2L)
    }
    var off = 0L
    (0 until t).foreach { i =>
      wStr(s"blk.$i.w")
      wU32(2L); wU64(dims(i)._1); wU64(dims(i)._2)
      wU32(if (i % 2 == 0) 0L else 1L)
      wU64(off)
      off += align32(sizes(i))
    }
    while (out.size % GgufAlign != 0) out.write(0) // head pad to alignment
    (0 until t).foreach { i =>
      var j = 0L
      while (j < sizes(i)) { out.write(((id + 13 * i + j) % 256).toInt); j += 1 }
      if (i < t - 1) {
        var p = sizes(i)
        while (p < align32(sizes(i))) { out.write(0); p += 1 }
      }
    }
    MediaRow(id, "application/x-gguf", out.toByteArray)
  }

  // =================================================================
  // 26. protobuf tf.Example (inside TFRecord framing)
  // =================================================================

  /** Parsed tf.Example shard: record and feature-map census by value
    * kind, with exact sum witnesses per kind (byte mass + byte sum for
    * bytes_list, varint sum for int64_list, doubled-value sum for
    * float_list — the fixture's floats are half-integers, so 2v is an
    * exact integer on both engines).
    */
  final case class TfExampleStats(media_id: Long, n_records: Int,
                                  n_entries: Long, n_bytes_vals: Long,
                                  n_int_vals: Long, n_float_vals: Long,
                                  bytes_len_sum: Long, byte_sum: Long,
                                  int_sum: Long, float_2sum: Long)

  /** REAL protobuf wire-format walker for tf.Example (public .proto in
    * tensorflow/core/example): Example{1: Features}, Features{1:
    * repeated map entry {1: key string, 2: Feature}}, Feature oneof
    * {1: BytesList, 2: FloatList, 3: Int64List}, lists packed per the
    * canonical writer. Varints, tags and length-delimited framing are
    * decoded for real; the TFRecord frame CRCs around each record are
    * verified with the same masked CRC32C as [[Multimodal.decodeTfRecord]].
    * Unknown fields fail loudly (a census that silently skips is a
    * census that lies).
    */
  def decodeTfExample(rows: Iterator[MediaRow]): Iterator[TfExampleStats] = rows.map { r =>
    val in = Payload(r)
    val b = r.payload
    var nRec = 0
    var (nEnt, nBv, nIv, nFv, blSum, bSum, iSum, f2Sum) = (0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)

    // one varint reader shared by all message levels
    def varint(pos: Int, end: Int): (Long, Int) = {
      var (v, shift, p) = (0L, 0, pos)
      var done = false
      while (!done) {
        require(p < end, s"truncated varint at $p: media ${r.media_id}")
        val byte = in.u8(p)
        v |= (byte & 0x7fL) << shift
        shift += 7
        require(shift <= 70, s"varint too long at $pos: media ${r.media_id}")
        p += 1
        done = (byte & 0x80) == 0
      }
      (v, p)
    }
    def tag(pos: Int, end: Int): (Int, Int, Int) = {
      val (t, p) = varint(pos, end)
      ((t >>> 3).toInt, (t & 7).toInt, p)
    }
    // a length-delimited field's (length, first byte), inside [pos, end)
    def delimited(pos: Int, end: Int, what: String): (Int, Int) = {
      val (n, p) = varint(pos, end)
      require(n >= 0 && n <= end - p, s"$what (length $n) overruns at $p: media ${r.media_id}")
      (n.toInt, p)
    }

    def parseFeature(start: Int, end: Int): Unit = {
      var p = start
      require(p < end, s"empty Feature at $p: media ${r.media_id}")
      val (field, wt, p1) = tag(p, end)
      require(wt == 2, s"Feature field $field wire type $wt != 2: media ${r.media_id}")
      val (len, p2) = delimited(p1, end, "Feature list")
      val lEnd = p2 + len
      field match {
        case 1 => // BytesList: repeated bytes value = 1 (not packed)
          var q = p2
          while (q < lEnd) {
            val (f2, w2, q1) = tag(q, lEnd)
            require(f2 == 1 && w2 == 2,
              s"BytesList field $f2/$w2: media ${r.media_id}")
            val (bl, q2) = delimited(q1, lEnd, "bytes value")
            nBv += 1; blSum += bl
            var j = 0
            while (j < bl) { bSum += b(q2 + j) & 0xff; j += 1 }
            q = q2 + bl
          }
        case 2 => // FloatList: packed float value = 1
          var q = p2
          while (q < lEnd) {
            val (f2, w2, q1) = tag(q, lEnd)
            require(f2 == 1 && w2 == 2,
              s"FloatList field $f2/$w2: media ${r.media_id}")
            val (pl, q2) = delimited(q1, lEnd, "packed float block")
            require(pl % 4 == 0, s"packed float block bad length $pl: media ${r.media_id}")
            var j = 0
            while (j < pl) {
              val bits = in.u32le(q2 + j).toInt
              val v = java.lang.Float.intBitsToFloat(bits)
              val dbl = 2.0f * v
              require(dbl == math.rint(dbl.toDouble).toFloat,
                s"float value $v not a half-integer: media ${r.media_id}")
              f2Sum += math.rint(dbl.toDouble).toLong
              nFv += 1
              j += 4
            }
            q = q2 + pl
          }
        case 3 => // Int64List: packed varint value = 1
          var q = p2
          while (q < lEnd) {
            val (f2, w2, q1) = tag(q, lEnd)
            require(f2 == 1 && w2 == 2,
              s"Int64List field $f2/$w2: media ${r.media_id}")
            val (pl, q2) = delimited(q1, lEnd, "packed int block")
            val pEnd = q2 + pl
            var q3 = q2
            while (q3 < pEnd) {
              val (v, q4) = varint(q3, pEnd)
              iSum += v; nIv += 1; q3 = q4
            }
            q = pEnd
          }
        case f => throw new IllegalArgumentException(
          s"unknown Feature kind $f: media ${r.media_id}")
      }
      require(lEnd == end, s"trailing bytes in Feature: media ${r.media_id}")
    }

    def parseFeatures(start: Int, end: Int): Unit = {
      var p = start
      while (p < end) {
        val (field, wt, p1) = tag(p, end)
        require(field == 1 && wt == 2,
          s"Features field $field/$wt: media ${r.media_id}")
        val (len, p2) = delimited(p1, end, "map entry")
        val eEnd = p2 + len
        // map entry: 1 = key string, 2 = value Feature
        var q = p2
        var (sawKey, sawVal) = (false, false)
        while (q < eEnd) {
          val (f2, w2, q1) = tag(q, eEnd)
          require(w2 == 2, s"map entry field $f2 wire $w2: media ${r.media_id}")
          val (len2, q2) = delimited(q1, eEnd, "map entry value")
          val vEnd = q2 + len2
          f2 match {
            case 1 => sawKey = true
            case 2 => sawVal = true; parseFeature(q2, vEnd)
            case f => throw new IllegalArgumentException(
              s"unknown map entry field $f: media ${r.media_id}")
          }
          q = vEnd
        }
        require(sawKey && sawVal, s"incomplete map entry: media ${r.media_id}")
        nEnt += 1
        p = eEnd
      }
    }

    def parseExample(start: Int, end: Int): Unit = {
      var p = start
      while (p < end) {
        val (field, wt, p1) = tag(p, end)
        require(field == 1 && wt == 2,
          s"Example field $field/$wt: media ${r.media_id}")
        val (len, p2) = delimited(p1, end, "Features")
        parseFeatures(p2, p2 + len)
        p = p2 + len
      }
    }

    // the TFRecord framing walk of decodeTfRecord (both CRCs verified),
    // each payload parsed as an Example
    Multimodal.tfRecordFrames(in).foreach { case (body, len) =>
      parseExample(body, body + len)
      nRec += 1
    }
    TfExampleStats(r.media_id, nRec, nEnt, nBv, nIv, nFv, blSum, bSum, iSum, f2Sum)
  }

  /** Deterministic tf.Example fixture per id: n = 1 + id%3 framed
    * records; record k carries features "label" (packed int64_list
    * [(id+k)%10, 300+(id+k)%200] — the second value exercises
    * multi-byte varints), "text" (bytes_list, one value of
    * L = 5+(id+k)%20 bytes, byte j = 97 + (id+k+j)%26) and "w" (packed
    * float_list of m = 2+(id+k)%3 half-integers (id+k)%7 + j/2). Real
    * masked-CRC32C framing, real proto encoding.
    */
  def syntheticTfExample(id: Long): MediaRow = {
    def varintBytes(v: Long): Array[Byte] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
      var x = v
      while ((x & ~0x7fL) != 0) { buf += ((x & 0x7f) | 0x80).toByte; x >>>= 7 }
      buf += (x & 0x7f).toByte
      buf.toArray
    }
    def lenDelim(field: Int, body: Array[Byte]): Array[Byte] =
      varintBytes((field << 3) | 2L) ++ varintBytes(body.length.toLong) ++ body

    val n = 1 + (id % 3).toInt
    val out = new java.io.ByteArrayOutputStream()
    (0 until n).foreach { k =>
      // Int64List{value: [v1, v2]} packed
      val ints = varintBytes((id + k) % 10) ++ varintBytes(300 + (id + k) % 200)
      val int64List = lenDelim(1, ints)
      val labelFeature = lenDelim(3, int64List)
      // BytesList{value: [text]}
      val l = 5 + ((id + k) % 20).toInt
      val text = Array.tabulate(l)(j => (97 + ((id + k + j) % 26)).toByte)
      val bytesList = lenDelim(1, text)
      val textFeature = lenDelim(1, bytesList)
      // FloatList{value: [...]} packed
      val m = 2 + ((id + k) % 3).toInt
      val floats = new java.io.ByteArrayOutputStream()
      (0 until m).foreach { j =>
        val bits = java.lang.Float.floatToIntBits(((id + k) % 7).toFloat + 0.5f * j)
        floats.write(bits & 0xff); floats.write((bits >> 8) & 0xff)
        floats.write((bits >> 16) & 0xff); floats.write((bits >> 24) & 0xff)
      }
      val floatList = lenDelim(1, floats.toByteArray)
      val wFeature = lenDelim(2, floatList)

      // map entry = Features.feature[k] = {1: key string, 2: Feature}
      def entry(key: String, feature: Array[Byte]): Array[Byte] = {
        val body = lenDelim(1, key.getBytes("US-ASCII")) ++ lenDelim(2, feature)
        lenDelim(1, body)
      }
      val features = entry("label", labelFeature) ++
        entry("text", textFeature) ++ entry("w", wFeature)
      val example = lenDelim(1, features)

      // TFRecord frame with real masked CRCs
      val hdr = new Array[Byte](8)
      var q = 0
      while (q < 8) { hdr(q) = ((example.length.toLong >> (8 * q)) & 0xff).toByte; q += 1 }
      out.write(hdr)
      val lc = Multimodal.maskedCrc(hdr, 0, 8)
      out.write(lc & 0xff); out.write((lc >>> 8) & 0xff)
      out.write((lc >>> 16) & 0xff); out.write((lc >>> 24) & 0xff)
      out.write(example)
      val pc = Multimodal.maskedCrc(example, 0, example.length)
      out.write(pc & 0xff); out.write((pc >>> 8) & 0xff)
      out.write((pc >>> 16) & 0xff); out.write((pc >>> 24) & 0xff)
    }
    MediaRow(id, "application/x-tfexample", out.toByteArray)
  }
}
