package graft

import graft.functions.MisraGries

/** Misra–Gries summary spec: the three theorems the oracle booleans
  * lean on (never overcounts; undercounts by at most n/(k+1); every
  * item above n/(k+1) present), checked across adversarial input
  * orders and arbitrary merge trees, plus serialization round-trip and
  * the SQL two-phase surface.
  */
class MgSpec extends SparkSpec {

  private def mk(k: Int, items: Seq[String]): MisraGries.Summary = {
    val s = new MisraGries.Summary(k)
    items.foreach(s.update)
    s
  }

  /** Zipf-ish stream: item i appears ~N/i times. */
  private def zipf(nItems: Int, scale: Int): Seq[String] =
    (1 to nItems).flatMap(i => Seq.fill(scale / i)(f"w$i%03d"))

  private def assertBounds(s: MisraGries.Summary, data: Seq[String], tag: String): Unit = {
    val exact = data.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = data.size.toLong
    val err = n / (s.k + 1)
    assert(s.n == n, s"$tag: n ${s.n} != $n")
    exact.foreach { case (item, c) =>
      val est = s.estimate(item)
      assert(est <= c, s"$tag: overcount $item est $est > exact $c")
      assert(c - est <= err, s"$tag: $item undercount ${c - est} > bound $err")
      if (c > err) assert(est > 0, s"$tag: heavy $item (c=$c > $err) absent")
    }
    assert(s.counts.size <= s.k, s"$tag: ${s.counts.size} counters > k=${s.k}")
  }

  test("single-stream bounds hold across adversarial input orders") {
    val data = zipf(40, 2000)
    for ((order, tag) <- Seq(
        (data, "as-is"), (data.sorted, "sorted"), (data.reverse, "reverse"),
        (data.sortBy(_.hashCode), "hash-shuffled"))) {
      assertBounds(mk(8, order), order, tag)
    }
  }

  test("merge bound holds over any merge tree (2-way, 8-way, skewed)") {
    val data = zipf(40, 2000)
    def splitMerge(parts: Seq[Seq[String]]): MisraGries.Summary = {
      val sks = parts.map(mk(8, _))
      val acc = sks.head
      sks.tail.foreach(acc.merge)
      acc
    }
    assertBounds(splitMerge(data.grouped(data.size / 2 + 1).toSeq), data, "2-way")
    assertBounds(splitMerge(data.grouped(data.size / 8 + 1).toSeq), data, "8-way")
    assertBounds(splitMerge(Seq(data.take(50), data.drop(50))), data, "skewed")
  }

  test("below k the summary is exact") {
    val data = Seq("a", "a", "b", "c", "c", "c")
    val s = mk(8, data)
    assert(s.estimate("a") == 2 && s.estimate("b") == 1 && s.estimate("c") == 3)
    assert(s.estimate("zzz") == 0)
  }

  test("serialization round-trips and merges after the wire") {
    val s1 = mk(4, zipf(20, 500))
    val bytes = s1.serialize
    val back = MisraGries.deserialize(bytes)
    assert(back.k == s1.k && back.n == s1.n && back.counts == s1.counts)
    assert(java.util.Arrays.equals(back.serialize, bytes), "bytes not stable")
    val s2 = mk(4, zipf(20, 300))
    back.merge(s2)
    assert(back.n == s1.n + s2.n)
  }

  test("merge rejects mixed-k summaries even when one side has no counters yet") {
    // an empty-but-real-k buffer must NOT silently keep its k while
    // absorbing another k's counters — that would change the n/(k+1)
    // bound the grading booleans are theorems under
    val a = new MisraGries.Summary(8)
    val b = mk(4, Seq("x", "y"))
    val e = intercept[IllegalArgumentException](a.merge(b))
    assert(e.getMessage.contains("k mismatch"))
    // counters decremented away (counts empty, n > 0) is NOT the marker
    val drained = mk(1, Seq("p", "q")) // k=1: second item drains the counter
    assert(drained.counts.isEmpty && drained.n == 2)
    val c = new MisraGries.Summary(8)
    val e2 = intercept[IllegalArgumentException](c.merge(drained))
    assert(e2.getMessage.contains("k mismatch"))
  }

  test("the pristine k=0 marker adopts the first real summary's k") {
    val m = new MisraGries.Summary(0)
    val b = mk(4, Seq("x", "x", "y"))
    m.merge(b)
    assert(m.k == 4 && m.n == 3 && m.estimate("x") == 2)
    // and a marker merged INTO a real buffer is a no-op on k
    val r = mk(4, Seq("z"))
    r.merge(new MisraGries.Summary(0))
    assert(r.k == 4 && r.n == 1)
  }

  test("SQL surface: two-phase sketch -> merge -> estimate over a DataFrame") {
    import spark.implicits._
    val data = zipf(30, 3000)
    data.zipWithIndex.map { case (w, i) => (i % 8, w) }
      .toDF("shard", "w").createOrReplaceTempView("mg_vals")
    val est = spark.sql(
      """SELECT graft_mg_estimate(graft_mg_merge(sk), 'w001') AS e1,
        |       graft_mg_estimate(graft_mg_merge(sk), 'w002') AS e2
        |FROM (SELECT shard, graft_mg_sketch(w, 8) AS sk
        |      FROM mg_vals GROUP BY shard)""".stripMargin).collect()(0)
    val n = data.size.toLong
    val exact1 = data.count(_ == "w001").toLong
    val exact2 = data.count(_ == "w002").toLong
    assert(est.getLong(0) <= exact1 && exact1 - est.getLong(0) <= n / 9)
    assert(est.getLong(1) <= exact2 && exact2 - est.getLong(1) <= n / 9)
  }
}
