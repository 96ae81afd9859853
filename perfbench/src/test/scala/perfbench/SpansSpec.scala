package perfbench

import org.scalatest.funsuite.AnyFunSuite

class SpansSpec extends AnyFunSuite {
  private def span(id: Long, kind: String, start: Long, end: Long, parent: Long) =
    Span(id, kind, s"$kind$id", start, end, parent, "op")

  test("union of intervals merges overlaps and clips to the window") {
    assert(Spans.unionMs(Seq((10L, 30L), (20L, 50L), (90L, 120L)), 0, 100) == 50)
    assert(Spans.unionMs(Seq((10L, 20L), (20L, 30L)), 0, 100) == 20)
    assert(Spans.unionMs(Seq((0L, 5L)), 10, 20) == 0)
    assert(Spans.unionMs(Nil, 0, 100) == 0)
  }

  test("self time subtracts overlapping children once") {
    val spans = Seq(
      span(1, "op", 0, 100, 0),
      span(2, "job", 10, 30, 1),
      span(3, "job", 20, 50, 1),
      span(4, "job", 90, 120, 1)) // outlives its parent: only 90..100 counts
    val self = Spans.selfMs(spans)
    assert(self(1) == 50)
    assert(self(2) == 20)
    assert(self(3) == 30)
    assert(self(4) == 30)
  }

  test("grandchildren are charged to their parent, not the grandparent") {
    val spans = Seq(
      span(1, "op", 0, 100, 0),
      span(2, "action", 0, 60, 1),
      span(3, "job", 10, 50, 2),
      span(4, "stage", 10, 40, 3))
    assert(Spans.selfMs(spans) == Map(1L -> 40L, 2L -> 20L, 3L -> 10L, 4L -> 30L))
  }

  test("per-kind totals add up to the root span") {
    val spans = Seq(
      span(1, "op", 0, 100, 0),
      span(2, "build", 0, 30, 1),
      span(3, "action", 30, 95, 1),
      span(4, "job", 40, 90, 3))
    val byKind = Spans.byKind(spans)
    assert(byKind("op") == ((1, 100L, 5L)))
    assert(byKind("action") == ((1, 65L, 15L)))
    assert(byKind.values.map(_._3).sum == 100)
  }
}
