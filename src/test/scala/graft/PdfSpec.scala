package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** PDF walker spec: round-trip against the fixture formulas (xref
  * dereference, stream-length framing, text-op census) plus the loud
  * failures a document ingest needs — bad header, dangling startxref,
  * stale xref offset, /Length off by one, trailer /Size mismatch,
  * unterminated literal string.
  */
class PdfSpec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticPdf(id).payload

  private def decode(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodePdf(Iterator(MediaRow(id, "application/pdf", payload))).next()

  private def patch(b: Array[Byte], needle: String, repl: String): Array[Byte] = {
    val s = new String(b, "ISO-8859-1")
    val i = s.indexOf(needle)
    assert(i >= 0, s"patch target '$needle' not found")
    (s.substring(0, i) + repl + s.substring(i + needle.length)).getBytes("ISO-8859-1")
  }

  test("round-trip: decoded stats match the fixture formulas") {
    for (id <- Seq(0L, 1L, 7L, 42L, 117L, 1234L)) {
      val st = decode(fixture(id), id)
      val m = 1 + (id % 3).toInt
      val ks = (0 until m).map(i => 2 + ((id + i) % 4).toInt)
      assert(st.n_objects == 2 + 2 * m, s"id $id objects")
      assert(st.n_free == 1 && st.trailer_size == 3 + 2 * m, s"id $id xref shape")
      assert(st.n_pages == m && st.n_streams == m, s"id $id pages/streams")
      assert(st.stream_bytes == ks.map(53L + 21L * _).sum, s"id $id stream bytes")
      assert(st.n_tj == ks.sum && st.n_tjarr == m, s"id $id text ops")
      assert(st.text_chars == ks.map(15L * _ + 12L).sum, s"id $id text chars")
    }
  }

  test("loud failure: bad %PDF header") {
    val b = fixture(3L)
    b(1) = 'X'
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("header"))
  }

  test("loud failure: startxref pointing into the void") {
    // 7-digit offset keeps every later byte offset unchanged
    val b = patch(fixture(3L), "startxref\n", "startxref\n9999999 ")
    val cut = java.util.Arrays.copyOfRange(b, 0, b.length - 8) // keep size
    val e = intercept[IllegalArgumentException](decode(cut))
    assert(e.getMessage.contains("xref") || e.getMessage.contains("read past"))
  }

  test("loud failure: stale xref offset (object header mismatch)") {
    // shift object 1's recorded offset by one: the dereference check fires
    val s = new String(fixture(3L), "ISO-8859-1")
    val i = s.indexOf(" 00000 n\r\n") - 10
    val off = s.substring(i, i + 10).toInt
    val b = (s.substring(0, i) + "%010d".format(off + 1) + s.substring(i + 10))
      .getBytes("ISO-8859-1")
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("finds"))
  }

  test("loud failure: /Length off by one misses endstream") {
    val s = new String(fixture(3L), "ISO-8859-1")
    val m = "/Length (\\d+)".r.findFirstMatchIn(s).get
    val wrong = (m.group(1).toInt - 1).toString
    // same digit count (fixture lengths are >= 2 digits), offsets intact
    assert(wrong.length == m.group(1).length)
    val b = (s.substring(0, m.start(1)) + wrong + s.substring(m.end(1)))
      .getBytes("ISO-8859-1")
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("endstream"))
  }

  test("loud failure: trailer /Size mismatch") {
    val s = new String(fixture(3L), "ISO-8859-1")
    val m = "/Size (\\d+)".r.findFirstMatchIn(s).get
    val b = (s.substring(0, m.start(1)) + "8" + s.substring(m.end(1)))
      .getBytes("ISO-8859-1")
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("/Size"))
  }

  test("loud failure: unterminated literal string") {
    // corrupt the LAST closing paren of a content stream (an earlier one
    // would just re-pair with a later paren); same length, offsets intact
    val b = patch(fixture(0L), ")] TJ", " ] TJ")
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("unterminated"))
  }
}
