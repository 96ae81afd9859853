package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** TIFF walker spec: round-trip against the fixture formulas on BOTH
  * endiannesses, plus the loud failures a scanned-document ingest
  * needs — bad byte-order mark, wrong magic, multi-page, compressed
  * strips, strip overrun.
  */
class TiffSpec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticTiff(id).payload

  private def decode(b: Array[Byte], id: Long = 1L) =
    Multimodal.decodeTiff(Iterator(MediaRow(id, "image/tiff", b))).next()

  test("round-trip: both endiannesses match the fixture formulas") {
    for (id <- Seq(0L, 1L, 2L, 3L, 7L, 42L, 117L, 1234L)) {
      val st = decode(fixture(id), id)
      val w = 2 + (id % 6); val h = 1 + (id % 5)
      assert(st.big_endian == (id % 2).toInt, s"id $id endianness")
      assert(st.n_entries == 8 && st.bits == 8 && st.n_strips == 1, s"id $id IFD")
      assert(st.width == w && st.height == h && st.strip_bytes == w * h, s"id $id geometry")
      val expSum = (0L until w * h).map(j => (id * 17 + j) % 256).sum
      assert(st.pixel_sum == expSum, s"id $id pixel sum")
    }
  }

  test("loud failure: bad byte-order mark") {
    val b = fixture(3L); b(0) = 'X'
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("byte-order"))
  }

  test("loud failure: wrong magic (not 42)") {
    val b = fixture(2L) // little-endian: magic at bytes 2-3
    b(2) = 43
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("magic"))
  }

  test("loud failure: multi-page next-IFD pointer") {
    val b = fixture(2L) // little-endian; next-IFD u32 is the last 4 bytes
    b(b.length - 4) = 8
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("multi-page"))
  }

  test("loud failure: compressed strip rejected") {
    val b = fixture(2L)
    // Compression entry (tag 259) value: entries start at IFD+2; tag 259
    // is the 4th entry; SHORT value sits at entry offset +8
    val ifd = 8 + (2 + 2 % 6) * (1 + 2 % 5)
    val voff = ifd + 2 + 12 * 3 + 8
    b(voff) = 5 // LZW
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("compressed"))
  }

  test("loud failure: strip overruns the payload") {
    val b = fixture(2L)
    val cut = java.util.Arrays.copyOfRange(b, 0, b.length) // copy
    // shrink StripByteCounts? instead point StripOffsets past the end:
    // tag 273 is the 6th entry (LONG value at +8)
    val ifd = 8 + (2 + 2 % 6) * (1 + 2 % 5)
    val voff = ifd + 2 + 12 * 5 + 8
    cut(voff) = 0xff.toByte; cut(voff + 1) = 0xff.toByte
    val e = intercept[IllegalArgumentException](decode(cut))
    assert(e.getMessage.contains("strip"))
  }
}
