package perfbench

/** One traced interval: an operation, its build or action phase, a Spark
  * job inside a phase, or a stage inside a job. Times are epoch
  * milliseconds, the resolution Spark's listener events carry.
  */
final case class Span(id: Long, kind: String, name: String, start: Long, end: Long,
                      parent: Long, op: String) {
  def ms: Long = math.max(0L, end - start)
}

object Spans {
  /** Total length of the union of intervals, each clipped to [lo, hi]. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its length minus the union of its children's
    * intervals clipped to it, so overlapping children are not subtracted
    * twice and a child that outlives its parent only covers the overlap.
    */
  def selfMs(spans: Seq[Span]): Map[Long, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.ms - unionMs(kids, s.start, s.end))
    }.toMap
  }

  /** (count, total ms, self ms) per span kind. */
  def byKind(spans: Seq[Span]): Map[String, (Int, Long, Long)] = {
    val self = selfMs(spans)
    spans.groupBy(_.kind).map { case (k, ss) =>
      k -> ((ss.size, ss.map(_.ms).sum, ss.map(s => self(s.id)).sum))
    }
  }
}
