package graft

import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** ZIP walker spec: round-trip against the fixture formulas (both the
  * stored and deflate paths), and the loud failures — garbled EOCD,
  * CRC corruption, local/central name mismatch, unsupported method,
  * truncated archive, forged central-directory uncompressed size.
  */
class ZipSpec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticZip(id).payload

  private def decode(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodeZip(Iterator(MediaRow(id, "application/zip", payload))).next()

  test("round-trip: decoded stats match the fixture formulas, both methods exercised") {
    for (id <- Seq(0L, 1L, 7L, 42L, 1234L)) {
      val st = decode(fixture(id), id)
      val m = 2 + (id % 4).toInt
      val sizes = (0 until m).map(i => 20L + (id + 11 * i) % 200)
      assert(st.n_entries == m, s"id $id entries")
      assert(st.n_stored == (m + 1) / 2 && st.n_deflate == m / 2, s"id $id methods")
      assert(st.total_bytes == sizes.sum && st.max_bytes == sizes.max, s"id $id sizes")
      val want = (0 until m).flatMap(i =>
        (0 until sizes(i).toInt).map(j => (id + 7 * i + j) % 256)).sum
      assert(st.content_sum == want, s"id $id content sum")
      assert(st.n_deflate > 0, s"id $id must exercise the inflate path")
    }
  }

  test("zero-length deflated entries (directory rows some writers emit) decode cleanly") {
    // built with the JDK's own writer: a deflated empty entry whose
    // finished() only flips on a drain call, plus a normal body entry
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    zos.putNextEntry(new java.util.zip.ZipEntry("empty.bin"))
    zos.closeEntry()
    zos.putNextEntry(new java.util.zip.ZipEntry("d/body.txt"))
    zos.write("hello graft".getBytes("UTF-8"))
    zos.closeEntry()
    zos.close()
    val st = decode(bos.toByteArray, 9L)
    assert(st.n_entries == 2 && st.n_deflate == 2 && st.n_stored == 0)
    assert(st.total_bytes == 11L && st.max_bytes == 11L)
    assert(st.content_sum == "hello graft".getBytes("UTF-8").map(_ & 0xff).sum)
  }

  test("loud failure: garbled EOCD signature") {
    val b = fixture(5L)
    b(b.length - 22 + 3) = 7 // PK\5\6 -> PK\5\7
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("end-of-central-directory"))
  }

  test("loud failure: CRC mismatch after content corruption") {
    val b = fixture(5L)
    // entry 0 is stored: its content starts right after the first local
    // header (30 bytes + name '5/f0.txt' = 8 chars)
    b(30 + 8) = (b(30 + 8) ^ 0x55).toByte
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("CRC mismatch"))
  }

  test("loud failure: local/central name mismatch") {
    val b = fixture(5L)
    b(30) = 'x'.toByte // first byte of the first local header's name
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("name mismatch"))
  }

  test("loud failure: unsupported compression method") {
    val b = fixture(5L)
    // method field of the FIRST central-directory entry (offset +10);
    // locate the CD via the EOCD pointer (little-endian u32 at EOCD+16)
    val e0 = b.length - 22
    val cd = (b(e0 + 16) & 0xff) | ((b(e0 + 17) & 0xff) << 8) |
      ((b(e0 + 18) & 0xff) << 16) | ((b(e0 + 19) & 0xff) << 24)
    b(cd + 10) = 99
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("unsupported compression method"))
  }

  /** Patch the central-directory usize of the fixture's first deflated
    * (method 8) entry; returns the patched archive.
    */
  private def forgeDeflatedUsize(b: Array[Byte], usize: Long): Array[Byte] = {
    def u16(o: Int) = (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    val e0 = b.length - 22
    var cd = u16(e0 + 16) | (u16(e0 + 18) << 16)
    while (u16(cd + 10) != 8) cd += 46 + u16(cd + 28) + u16(cd + 30) + u16(cd + 32)
    (0 until 4).foreach(k => b(cd + 24 + k) = ((usize >>> (8 * k)) & 0xff).toByte)
    b
  }

  test("loud failure: a forged usize >= 2^31 is rejected, not allocated") {
    val e = intercept[IllegalArgumentException](decode(forgeDeflatedUsize(fixture(5L), 0xFFFFFFF0L)))
    assert(e.getMessage.contains("uncompressed bytes"), e.getMessage)
  }

  test("loud failure: a forged usize just under 2^31 fails on what inflate produced") {
    val e = intercept[IllegalArgumentException](decode(forgeDeflatedUsize(fixture(5L), 0x7FFFFFF0L)))
    assert(e.getMessage.contains("inflate produced"), e.getMessage)
  }

  test("loud failure: truncated archive") {
    val b = fixture(5L)
    val e = intercept[IllegalArgumentException](
      decode(java.util.Arrays.copyOfRange(b, 0, b.length / 2)))
    assert(e.getMessage.contains("end-of-central-directory"))
  }
}
