package graft

import scala.collection.mutable
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.DataFrame
import graft.ops.{ModelFormats, Multimodal}
import graft.ops.Multimodal.MediaRow

/** Corruption sweep over every (fixture, decoder) pair: for fixture ids
  * 0–11, each decoder sees every prefix truncation of the payload (200
  * seeded cut points when it is longer than 200 bytes) and 100 seeded
  * single-byte flips. A decoder may return or throw, but only a
  * NonFatal exception — no VirtualMachineError, no hang. The census of
  * exceptions other than a `require`'s IllegalArgumentException is
  * printed: those are corrupt inputs that reach a raw JVM exception
  * instead of a named error, and it must be empty for every decoder
  * use.
  */
class DecoderCorruptionSpec extends SparkSpec {
  import spark.implicits._

  private val ids = 0L until 12L

  private type Decoder = Iterator[MediaRow] => Iterator[Any]

  private def pure(f: Long => MediaRow): Seq[MediaRow] = ids.map(f)

  /** The two twin generators emit one or two rows per id. */
  private def twins(f: (DataFrame, String) => DataFrame): Seq[MediaRow] =
    f(ids.toDF("id"), "id").as[MediaRow].collect().toSeq.sortBy(_.media_id)

  private def uses(fixture: String, rows: Seq[MediaRow],
                   decoders: (String, Decoder)*): (String, Seq[MediaRow], Seq[(String, Decoder)]) =
    (fixture, rows, decoders)

  private def d(name: String, f: Decoder): (String, Decoder) = name -> f

  private val M = Multimodal
  private val F = ModelFormats

  private lazy val table = Seq(
    uses("ppm", pure(M.syntheticPpm), d("decodePpm", M.decodePpm)),
    uses("wav", pure(M.syntheticWav), d("decodeWav", M.decodeWav)),
    uses("qoi", pure(M.syntheticQoi), d("decodeQoi", M.decodeQoi)),
    uses("tfrecord", pure(M.syntheticTfRecord), d("decodeTfRecord", M.decodeTfRecord)),
    uses("pbm", pure(M.syntheticPbm), d("decodePbm", M.decodePbm)),
    uses("mp3", pure(M.syntheticMp3), d("decodeMp3", M.decodeMp3)),
    uses("midi", pure(M.syntheticMidi), d("decodeMidi", M.decodeMidi)),
    uses("obj", pure(M.syntheticObj), d("decodeObj", M.decodeObj)),
    uses("ulaw", pure(M.syntheticUlaw), d("decodeUlaw", M.decodeUlaw)),
    uses("bmp", pure(M.syntheticBmp), d("decodeBmp", M.decodeBmp)),
    uses("jpeg", pure(M.syntheticJpeg), d("decodeJpegHeader", M.decodeJpegHeader)),
    uses("gif", pure(M.syntheticGif), d("decodeGif", M.decodeGif)),
    uses("png", pure(M.syntheticPng), d("decodePng", M.decodePng)),
    uses("tar", pure(M.syntheticTar), d("decodeTar", M.decodeTar)),
    uses("wds", pure(M.syntheticWds), d("decodeTarMembers", M.decodeTarMembers)),
    uses("srt", pure(M.syntheticSrt), d("decodeSrt", M.decodeSrt)),
    uses("mp4", pure(M.syntheticMp4), d("decodeMp4", M.decodeMp4)),
    uses("zipwds", pure(M.syntheticZipWds), d("decodeZipMembers", M.decodeZipMembers)),
    uses("zip", pure(M.syntheticZip), d("decodeZip", M.decodeZip),
      d("decodeZipMembers", M.decodeZipMembers), d("decodeZipPayloads", M.decodeZipPayloads)),
    uses("warc", pure(M.syntheticWarc), d("decodeWarc", M.decodeWarc)),
    uses("pdf", pure(M.syntheticPdf), d("decodePdf", M.decodePdf)),
    uses("crawlwarc", pure(M.syntheticCrawlWarc), d("decodeWarc", M.decodeWarc),
      d("decodeWarcResponses", M.decodeWarcResponses)),
    uses("htmllinks", pure(M.syntheticHtmlLinks), d("decodeHtmlLinks", M.decodeHtmlLinks)),
    uses("robots", pure(M.syntheticRobots), d("decodeRobots", M.decodeRobots)),
    uses("html", pure(M.syntheticHtml), d("decodeHtml", M.decodeHtml)),
    uses("tiff", pure(M.syntheticTiff), d("decodeTiff", M.decodeTiff)),
    uses("safetensors", pure(F.syntheticSafetensors), d("decodeSafetensors", F.decodeSafetensors)),
    uses("npy", pure(F.syntheticNpy), d("decodeNpy", F.decodeNpy)),
    uses("npz", pure(F.syntheticNpz), d("decodeZipPayloads", M.decodeZipPayloads)),
    uses("gguf", pure(F.syntheticGguf), d("decodeGguf", F.decodeGguf)),
    uses("tfexample", pure(F.syntheticTfExample), d("decodeTfExample", F.decodeTfExample),
      d("decodeTfRecord", M.decodeTfRecord)),
    uses("ppmpairs", twins(M.syntheticPpmPairs), d("decodePpmPhash", M.decodePpmPhash),
      d("decodePpmPhashBanded", M.decodePpmPhashBanded)),
    uses("wavpairs", twins(M.syntheticWavPairs), d("decodeWavAfp", M.decodeWavAfp),
      d("decodeWavAfpBanded", M.decodeWavAfpBanded)))

  /** Every prefix (or 200 seeded cut points), then 100 seeded flips. */
  private def corruptions(b: Array[Byte], rnd: Random): Iterator[Array[Byte]] = {
    val cuts = if (b.length <= 200) (0 until b.length).iterator
               else Iterator.fill(200)(rnd.nextInt(b.length))
    val flips = Iterator.fill(100) {
      val c = b.clone()
      val at = rnd.nextInt(b.length)
      c(at) = (c(at) ^ (1 + rnd.nextInt(255))).toByte
      c
    }
    cuts.map(n => java.util.Arrays.copyOf(b, n)) ++ flips
  }

  test("table covers all 33 fixtures and 39 decoder uses; clean fixtures decode") {
    assert(table.map(_._1).distinct.size == 33)
    assert(table.map(_._3.size).sum == 39)
    for ((fixture, rows, decoders) <- table; (name, dec) <- decoders; r <- rows)
      withClue(s"$fixture/$name id ${r.media_id}: ")(dec(Iterator(r)).foreach(_ => ()))
  }

  test("corrupt payloads return or throw a NonFatal exception, never a fatal error") {
    val census = mutable.TreeMap.empty[(String, String), Int]
    var (calls, slowestNs, slowest) = (0L, 0L, "")
    for ((fixture, rows, decoders) <- table; (name, dec) <- decoders; r <- rows) {
      val rnd = new Random(31L * r.media_id + (fixture + name).hashCode)
      corruptions(r.payload, rnd).foreach { bad =>
        val t0 = System.nanoTime()
        try dec(Iterator(r.copy(payload = bad))).foreach(_ => ())
        catch {
          case NonFatal(e) if e.getClass != classOf[IllegalArgumentException] =>
            val k = (name, e.getClass.getName)
            census(k) = census.getOrElse(k, 0) + 1
          case NonFatal(_) => // a require: the named failure
        }
        val dt = System.nanoTime() - t0
        if (dt > slowestNs) { slowestNs = dt; slowest = s"$fixture/$name id ${r.media_id}" }
        calls += 1
      }
    }
    println(f"[corruption] $calls%d calls, slowest ${slowestNs / 1e6}%.1f ms ($slowest)")
    census.foreach { case ((name, cls), n) => println(s"[corruption] $name: $n x $cls") }
    assert(census.isEmpty, s"decoders reached raw JVM exceptions: $census")
    assert(calls >= 39L * ids.size * 100) // at least the flips ran everywhere
  }

  /** A PNG whose IHDR declares `w` x `h` 8-bit grayscale, with valid
    * CRCs on every chunk and one IDAT holding a tiny zlib stream. */
  private def pngDeclaring(w: Int, h: Int): MediaRow = {
    val out = new java.io.ByteArrayOutputStream()
    val data = new java.io.DataOutputStream(out)
    def chunk(typ: String, body: Array[Byte]): Unit = {
      val crc = new java.util.zip.CRC32()
      crc.update(typ.getBytes("US-ASCII")); crc.update(body)
      data.writeInt(body.length); data.writeBytes(typ); data.write(body)
      data.writeInt(crc.getValue.toInt)
    }
    data.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h).put(8.toByte).array()
    chunk("IHDR", ihdr)
    val defl = new java.util.zip.Deflater()
    defl.setInput(new Array[Byte](16)); defl.finish()
    val z = new Array[Byte](64)
    chunk("IDAT", z.take(defl.deflate(z)))
    chunk("IEND", Array.emptyByteArray)
    MediaRow(0L, "image/png", out.toByteArray)
  }

  test("a CRC-valid PNG IHDR declaring a huge raster fails named, allocating nothing up front") {
    // 46341^2 overflows an Int size; 46000^2 would ask for 2.1 GB
    for (side <- Seq(46341, 46000)) {
      val e = intercept[IllegalArgumentException](
        Multimodal.decodePng(Iterator(pngDeclaring(side, side))).foreach(_ => ()))
      assert(e.getMessage.contains("media 0"), e.getMessage)
    }
  }

  test("a PPM width past Int range fails named instead of wrapping") {
    // 4294967297 = 2^32 + 1 wraps to a 1-pixel-wide image in Int arithmetic
    val ppm = "P6\n4294967297 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2, 3)
    val e = intercept[IllegalArgumentException](
      Multimodal.decodePpm(Iterator(MediaRow(0L, "image/x-portable-pixmap", ppm))).foreach(_ => ()))
    assert(e.getMessage.contains("4294967297"), e.getMessage)
  }
}
