package graft

import graft.ops.Multimodal
import graft.ops.Multimodal.MediaRow

/** robots.txt parser spec: round-trip against the fixture formulas, the
  * RFC decision semantics (specific group beats `*` with no fallback
  * merge; longest match; Allow wins ties; empty rule set allows), and
  * the loud failures — orphan rule, unknown directive, malformed line.
  */
class RobotsSpec extends SparkSpec {
  private def fixture(id: Long): Array[Byte] = Multimodal.syntheticRobots(id).payload

  private def decode(text: String) =
    Multimodal.decodeRobots(Iterator(MediaRow(1L, "text/plain",
      text.getBytes("UTF-8")))).next()

  private def decodeB(payload: Array[Byte], id: Long = 1L) =
    Multimodal.decodeRobots(Iterator(MediaRow(id, "text/plain", payload))).next()

  test("round-trip: decoded stats match the fixture formulas") {
    for (id <- Seq(0L, 1L, 2L, 7L, 42L, 117L, 1234L)) {
      val st = decodeB(fixture(id), id)
      val d = (id % 3).toInt
      assert(st.n_groups == 2 && st.n_rules == 4 + d, s"id $id groups/rules")
      assert(st.n_sitemaps == 1 + (id % 2).toInt, s"id $id sitemaps")
      assert(st.delay_star == (id % 5 + 1).toInt, s"id $id delay")
      val blocked = 1 + (if (d == 2) 1 else 0)
      assert(st.n_blocked == blocked && st.n_allowed == 4 - blocked, s"id $id decisions")
    }
  }

  test("no fallback merge: a matching specific group hides * rules") {
    // * blocks everything; graftbot's group has no rules -> all allowed
    val st = decode(
      "User-agent: *\nDisallow: /\n\nUser-agent: graftbot\nCrawl-delay: 9\n")
    assert(st.n_allowed == 4 && st.n_blocked == 0)
    assert(st.delay_star == 0) // delay on the graftbot group, not *
  }

  test("longest match decides; Allow wins length ties") {
    val st = decode(
      "User-agent: graftbot\nDisallow: /p\nAllow: /p0/secret\nDisallow: /p0/secre\n")
    // /p0/secret: allow (10) beats disallow (9) and (2); the other
    // three probes all start with /p (prefix semantics, not path
    // segments) -> blocked
    assert(st.n_allowed == 1 && st.n_blocked == 3)
  }

  test("UA run opens ONE group shared by several agents") {
    val st = decode("User-agent: a\nUser-agent: graftbot\nDisallow: /p0\n")
    assert(st.n_groups == 1 && st.n_blocked == 1)
  }

  test("loud failure: rule before any user-agent") {
    val e = intercept[IllegalArgumentException](decode("Disallow: /x\n"))
    assert(e.getMessage.contains("before any user-agent"))
  }

  test("loud failure: unknown directive") {
    val e = intercept[IllegalArgumentException](
      decode("User-agent: *\nNoindex: /x\n"))
    assert(e.getMessage.contains("unknown robots directive"))
  }

  test("loud failure: malformed line without a colon") {
    val e = intercept[IllegalArgumentException](
      decode("User-agent: *\njust some text\n"))
    assert(e.getMessage.contains("malformed"))
  }
}
