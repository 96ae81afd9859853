package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** WARC walker spec: round-trip against the fixture formulas (all three
  * framing layers exercised — gzip member, WARC record, HTTP split),
  * plus the loud failures a crawl ingest needs — bad gzip magic,
  * corrupted member CRC, truncated trailer, bad version line, missing
  * Content-Length, off-by-one record framing, unknown record type.
  */
class WarcSpec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticWarc(id).payload

  private def decode(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodeWarc(Iterator(MediaRow(id, "application/warc", payload))).next()

  /** Re-gzip a single decompressed record as one member. */
  private def gzip(record: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(out)
    gz.write(record); gz.close()
    out.toByteArray
  }

  test("round-trip: decoded stats match the fixture formulas") {
    for (id <- Seq(0L, 1L, 7L, 42L, 117L, 1234L)) {
      val st = decode(fixture(id), id)
      val m = 1 + (id % 4).toInt
      val lens = (0 until m).map(i => 100 + ((id + 17 * i) % 300).toInt)
      assert(st.n_members == 1 + 2 * m, s"id $id members")
      assert(st.n_responses == m && st.n_requests == m && st.n_warcinfo == 1,
        s"id $id type census")
      assert(st.http_bytes == lens.map(65L + _).sum, s"id $id http bytes")
      assert(st.payload_bytes == lens.map(_.toLong).sum, s"id $id payload bytes")
      val psum = (0 until m).flatMap(i =>
        (0 until lens(i)).map(j => (id + 5 * i + j) % 256)).sum
      assert(st.payload_sum == psum, s"id $id payload sum")
      assert(st.n_ok == m - 1, s"id $id n_ok (last response is the 404)")
    }
  }

  test("loud failure: bad gzip magic") {
    val b = fixture(3L)
    b(0) = 0x00
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("gzip magic"))
  }

  test("loud failure: corrupted member payload fails the CRC check") {
    val b = fixture(3L)
    // flip a byte inside the first member's deflate stream
    b(15) = (b(15) ^ 0x55).toByte
    val e = intercept[Exception](decode(b))
    // a deflate-level corruption may also stall the inflater — either
    // failure is loud, neither desyncs silently
    assert(e.getMessage.contains("CRC") || e.getMessage.contains("stalled")
      || e.getMessage.contains("invalid"))
  }

  test("loud failure: truncated archive (trailer cut off)") {
    val b = fixture(3L)
    val cut = java.util.Arrays.copyOfRange(b, 0, b.length - 4)
    val e = intercept[Exception](decode(cut))
    assert(e.getMessage != null)
  }

  test("loud failure: bad WARC version line") {
    val rec = "WARC/0.9\r\nWARC-Type: warcinfo\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val e = intercept[IllegalArgumentException](
      decode(gzip(rec.getBytes("US-ASCII"))))
    assert(e.getMessage.contains("version"))
  }

  test("loud failure: missing Content-Length") {
    val rec = "WARC/1.0\r\nWARC-Type: warcinfo\r\n\r\nhi\r\n\r\n"
    val e = intercept[IllegalArgumentException](
      decode(gzip(rec.getBytes("US-ASCII"))))
    assert(e.getMessage.contains("Content-Length"))
  }

  test("loud failure: Content-Length framing off by one") {
    val rec = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 3\r\n\r\nhi\r\n\r\n"
    val e = intercept[IllegalArgumentException](
      decode(gzip(rec.getBytes("US-ASCII"))))
    assert(e.getMessage.contains("framing"))
  }

  test("loud failure: unknown WARC-Type") {
    val rec = "WARC/1.0\r\nWARC-Type: resource\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val e = intercept[IllegalArgumentException](
      decode(gzip(rec.getBytes("US-ASCII"))))
    assert(e.getMessage.contains("unknown WARC-Type"))
  }

  test("loud failure: HTTP head terminator straddling the record terminator") {
    // the block's only CRLFCRLF is its own trailing CRLF plus the record
    // terminator, so the payload would start past the block's end
    val block = "HTTP/1.1 200 OK\r\n"
    val rec = s"WARC/1.0\r\nWARC-Type: response\r\nContent-Length: ${block.length}\r\n\r\n" +
      block + "\r\n\r\n"
    val e = intercept[IllegalArgumentException](decode(gzip(rec.getBytes("US-ASCII"))))
    assert(e.getMessage.contains("no HTTP header terminator"))
  }

  test("single well-formed hand-built record decodes") {
    val rec = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: 2\r\n\r\nhi\r\n\r\n"
    val st = decode(gzip(rec.getBytes("US-ASCII")))
    assert(st.n_members == 1 && st.n_warcinfo == 1 && st.n_responses == 0)
  }
}
