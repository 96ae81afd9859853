package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** HTML tokenizer spec: round-trip against the fixture formulas, the
  * raw-text rule (markup inside script is NOT markup), numeric entity
  * decode, and the loud failures — mismatched close, unclosed at EOF,
  * unterminated comment/raw-text, unknown entity.
  */
class HtmlSpec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticHtml(id).payload

  private def decode(html: String) =
    Multimodal.decodeHtml(Iterator(MediaRow(1L, "text/html",
      html.getBytes("UTF-8")))).next()

  private def decodeB(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodeHtml(Iterator(MediaRow(id, "text/html", payload))).next()

  test("round-trip: decoded stats match the fixture formulas") {
    for (id <- Seq(0L, 1L, 7L, 42L, 117L, 1234L)) {
      val st = decodeB(fixture(id), id)
      val m = 2 + (id % 4).toInt
      val ks = (0 until m).map(i => 3 + ((id + i) % 5).toInt)
      assert(st.n_open == 7 + m && st.n_close == 7 + m, s"id $id tag census")
      assert(st.n_selfclose == m && st.n_comments == 1 && st.n_decl == 1, s"id $id")
      assert(st.script_bytes == 28, s"id $id raw-text bytes")
      assert(st.n_entities == m, s"id $id entities")
      assert(st.text_chars == 9 + ks.map(13L * _ + 3L).sum, s"id $id text")
      assert(st.max_depth == 4, s"id $id depth")
    }
  }

  test("raw-text rule: markup inside script is content, not tags") {
    val st = decode("<html><script>if (a<b) { x = \"<p>not a tag</p>\"; }</script></html>")
    assert(st.n_open == 2 && st.n_close == 2) // html + script only
    assert(st.script_bytes == 36 && st.text_chars == 0)
  }

  test("numeric entities decode (incl. astral plane as surrogate pair)") {
    val st = decode("<p>&#65;&#128512;</p>")
    // 'A' = 1 char, U+1F600 = 2 UTF-16 units
    assert(st.n_entities == 2 && st.text_chars == 3)
  }

  test("loud failure: mismatched close tag") {
    val e = intercept[IllegalArgumentException](decode("<div><p>x</div></p>"))
    assert(e.getMessage.contains("mismatched"))
  }

  test("loud failure: unclosed tags at EOF") {
    val e = intercept[IllegalArgumentException](decode("<div><p>x</p>"))
    assert(e.getMessage.contains("unclosed"))
  }

  test("loud failure: unterminated comment") {
    val e = intercept[IllegalArgumentException](decode("<p><!-- no end</p>"))
    assert(e.getMessage.contains("comment"))
  }

  test("loud failure: unterminated raw-text element") {
    val e = intercept[IllegalArgumentException](decode("<script>var a=1;"))
    assert(e.getMessage.contains("raw-text"))
  }

  test("loud failure: unknown entity") {
    val e = intercept[IllegalArgumentException](decode("<p>&nope;</p>"))
    assert(e.getMessage.contains("unknown entity"))
  }
}
