package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** MP3 walker spec: round-trip against the fixture formulas, the
  * syncsafe ID3 size (a byte ≥ 0x80 must be rejected, and a tag body
  * > 127 bytes must round-trip — the case a naive u32 read breaks),
  * and the loud failures — lost sync, free/forbidden bitrate,
  * reserved samplerate, truncated final frame, trailing garbage.
  */
class Mp3Spec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticMp3(id).payload

  private def decode(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodeMp3(Iterator(MediaRow(id, "audio/mpeg", payload))).next()

  test("round-trip: decoded stats match the fixture formulas") {
    for (id <- Seq(0L, 1L, 7L, 42L, 117L, 1234L)) {
      val st = decode(fixture(id), id)
      val nf = 3 + (id % 6).toInt
      val tagBody = 10 + (id % 50).toInt
      val srTab = Array(44100, 48000, 32000)
      val kbps = (0 until nf).map(f => Multimodal.Mp3FixtureKbps(((id + f) % 13).toInt))
      val srs = (0 until nf).map(f => srTab(((id + f) % 3).toInt))
      assert(st.n_frames == nf, s"id $id frames")
      assert(st.id3_size == 10L + tagBody, s"id $id id3")
      assert(st.kbps_sum == kbps.sum, s"id $id kbps")
      assert(st.dur_us == srs.map(1152000000L / _).sum, s"id $id duration")
      val flens = (0 until nf).map { f =>
        144 * kbps(f) * 1000 / srs(f) + ((id + f) % 2).toInt
      }
      assert(st.byte_len == 10L + tagBody + flens.sum, s"id $id bytes")
    }
  }

  test("syncsafe ID3 size: tag body over 127 bytes needs the 7-bit split") {
    // id 118 -> tagBody = 10 + 118 % 50 = 28... pick one crossing 127:
    // build by hand: tagBody = 200 -> size bytes (0x01, 0x48)
    val frames = fixture(0L)
    val tail = java.util.Arrays.copyOfRange(frames, 10 + 10, frames.length)
    val tagBody = 200
    val b = new Array[Byte](10 + tagBody + tail.length)
    b(0) = 'I'; b(1) = 'D'; b(2) = '3'; b(3) = 3
    b(8) = ((tagBody >> 7) & 0x7f).toByte // 1
    b(9) = (tagBody & 0x7f).toByte // 72
    var j = 0
    while (j < tagBody) { b(10 + j) = (j % 100).toByte; j += 1 }
    System.arraycopy(tail, 0, b, 10 + tagBody, tail.length)
    val st = decode(b)
    assert(st.id3_size == 210L && st.n_frames == 3)
  }

  test("loud failure: non-syncsafe ID3 size byte") {
    val b = fixture(5L)
    b(9) = 0x85.toByte
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("non-syncsafe"))
  }

  test("loud failure: lost sync (corrupted frame header)") {
    val b = fixture(5L)
    val off = 10 + 10 + (5 % 50) // first frame header
    b(off) = 0x00
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("lost sync"))
  }

  test("loud failure: forbidden bitrate index 15") {
    val b = fixture(5L)
    val off = 10 + 10 + (5 % 50)
    b(off + 2) = (0xf0 | (b(off + 2) & 0x0f)).toByte
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("bitrate index"))
  }

  test("loud failure: reserved samplerate") {
    val b = fixture(5L)
    val off = 10 + 10 + (5 % 50)
    b(off + 2) = ((b(off + 2) & 0xf0) | 0x0c | (b(off + 2) & 0x02)).toByte
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("reserved samplerate"))
  }

  test("loud failure: truncated final frame") {
    val b = fixture(5L)
    val e = intercept[IllegalArgumentException](
      decode(java.util.Arrays.copyOfRange(b, 0, b.length - 3)))
    assert(e.getMessage.toLowerCase.contains("overruns payload"))
  }

  test("loud failure: trailing garbage shorter than a header") {
    val b0 = fixture(5L)
    val b = java.util.Arrays.copyOf(b0, b0.length + 2)
    b(b0.length) = 0xff.toByte
    val e = intercept[IllegalArgumentException](decode(b))
    assert(e.getMessage.contains("trailing garbage"))
  }
}
