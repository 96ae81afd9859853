package graft

import graft.functions.Kll

/** KLL sketch spec: rank-error envelope across adversarial input orders,
  * merge associativity / partition-layout invariance, serialization
  * round-trip, exactness below k, weight conservation, and the SQL
  * surface (graft_kll_sketch / graft_kll_merge / graft_kll_quantile).
  */
class KllSpec extends SparkSpec {

  private val K = 256
  private val QS = Seq(100000L, 250000L, 500000L, 750000L, 875000L, 990000L)

  /** True rank window of value v in data: (#strictly-less, #less-or-equal). */
  private def rankWindow(sorted: Array[Long], v: Long): (Long, Long) = {
    var lt = 0L; var le = 0L
    sorted.foreach { x => if (x < v) lt += 1; if (x <= v) le += 1 }
    (lt, le)
  }

  /** Assert every quantile estimate's true rank is within eps·n of target. */
  private def assertBounded(sk: Kll.Sketch, data: Array[Long], epsPpm: Long,
      tag: String): Unit = {
    val sorted = data.sorted
    val n = data.length.toLong
    assert(sk.n == n, s"$tag: sketch n ${sk.n} != $n")
    QS.foreach { q =>
      val est = sk.quantile(q).get
      val (lt, le) = rankWindow(sorted, est)
      assert(lt * 1000000L <= (q + epsPpm) * n,
        s"$tag q=$q: est $est rank-low $lt/$n too high")
      assert(le * 1000000L >= (q - epsPpm) * n,
        s"$tag q=$q: est $est rank-high $le/$n too low")
    }
  }

  private def mkSketch(data: Seq[Long]): Kll.Sketch = {
    val sk = new Kll.Sketch(K)
    data.foreach(sk.update)
    sk
  }

  // deterministic value streams (no Random: portable + replayable)
  private def lcg(seed: Long, n: Int): Array[Long] = {
    var x = seed
    Array.fill(n) { x = (x * 6364136223846793005L + 1442695040888963407L); math.abs(x % 1000000L) }
  }

  test("rank bound holds across adversarial input orders (k=256, eps 1.5%)") {
    val n = 60000
    val asc = Array.tabulate(n)(_.toLong)
    val desc = asc.reverse
    val shuffled = lcg(42L, n)
    val constantHeavy = Array.tabulate(n)(i => if (i % 3 == 0) 500L else (i % 997).toLong)
    assertBounded(mkSketch(asc.toSeq), asc, 15000L, "asc")
    assertBounded(mkSketch(desc.toSeq), desc, 15000L, "desc")
    assertBounded(mkSketch(shuffled.toSeq), shuffled, 15000L, "lcg")
    assertBounded(mkSketch(constantHeavy.toSeq), constantHeavy, 15000L, "const-heavy")
  }

  test("merge is layout-invariant within the bound: 2-way, 8-way, skewed splits") {
    val data = lcg(7L, 80000)
    def mergeChunks(chunks: Seq[Array[Long]]): Kll.Sketch = {
      val parts = chunks.map(c => mkSketch(c.toSeq))
      val acc = parts.head
      parts.tail.foreach(acc.merge)
      acc
    }
    assertBounded(mergeChunks(data.grouped(40000).toSeq), data, 15000L, "2-way")
    assertBounded(mergeChunks(data.grouped(10000).toSeq), data, 15000L, "8-way")
    // pathologically skewed: one huge partition + many tiny ones
    val skewed = Seq(data.take(70000)) ++ data.drop(70000).grouped(500).toSeq
    assertBounded(mergeChunks(skewed), data, 15000L, "skewed")
    // associativity shape: (a+b)+c vs a+(b+c) both within bound
    val Seq(a, b, c) = data.grouped(27000).toSeq.take(3).toList match {
      case l @ List(_, _, _) => l
      case l                 => l.padTo(3, Array.empty[Long])
    }
    val left = mkSketch(a.toSeq); left.merge(mkSketch(b.toSeq)); left.merge(mkSketch(c.toSeq))
    val bc = mkSketch(b.toSeq); bc.merge(mkSketch(c.toSeq))
    val right = mkSketch(a.toSeq); right.merge(bc)
    assertBounded(left, data.take(81000), 15000L, "assoc-left")
    assertBounded(right, data.take(81000), 15000L, "assoc-right")
  }

  test("serialization round-trips bit-for-bit") {
    val sk = mkSketch(lcg(99L, 30000).toSeq)
    val back = Kll.deserialize(sk.serialize)
    assert(back.n == sk.n && back.k == sk.k)
    QS.foreach(q => assert(back.quantile(q) == sk.quantile(q)))
    assert(java.util.Arrays.equals(back.serialize, sk.serialize))
  }

  test("below k the sketch is exact: estimates are the true order statistics") {
    val data = lcg(5L, 200).toSeq // < k = 256, never compacts
    val sk = mkSketch(data)
    val sorted = data.sorted
    QS.foreach { q =>
      val target = math.max(1L, math.min(sk.n, (q * sk.n + 999999L) / 1000000L))
      assert(sk.quantile(q).get == sorted((target - 1).toInt), s"q=$q")
    }
  }

  test("weight is conserved exactly through compaction and merge") {
    val sk = mkSketch(lcg(1L, 100000).toSeq)
    assert(sk.weighted.map(_._2).sum == 100000L)
    val other = mkSketch(lcg(2L, 35000).toSeq)
    sk.merge(other)
    assert(sk.weighted.map(_._2).sum == 135000L)
    // state stays O(k): the whole point of the sketch
    assert(sk.weighted.length < 8 * K, s"retained ${sk.weighted.length}")
  }

  test("empty and single-value edges") {
    val empty = new Kll.Sketch(K)
    assert(empty.quantile(500000L).isEmpty)
    val one = mkSketch(Seq(7L))
    QS.foreach(q => assert(one.quantile(q).contains(7L)))
  }

  test("grouped two-phase: per-shard partials merged per group match per-group exact ranks") {
    import spark.implicits._
    // 3 groups with DIFFERENT distributions; 8 shards per group — the
    // q_agg_kll_grouped deployment shape (partials per input split)
    val rows = for (g <- 0 until 3; i <- 0L until 6000L)
      yield (s"g$g", i % 8, i * (g + 1)) // group g holds 0, g+1, 2(g+1), ...
    rows.toDF("g", "shard", "v").createOrReplaceTempView("kll_grp")
    val got = spark.sql(
      """SELECT g, graft_kll_quantile(graft_kll_merge(sk), 500000L) AS med
        |FROM (SELECT g, shard, graft_kll_sketch(v, 256) AS sk
        |      FROM kll_grp GROUP BY g, shard)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    got.zipWithIndex.foreach { case (r, g) =>
      val med = r.getLong(1)
      val exactMed = 3000L * (g + 1) // values are 0..5999*(g+1) step g+1
      // 1.5% rank envelope of 6000 values = ±90 ranks = ±90*(g+1) in value
      assert(math.abs(med - exactMed) <= 90L * (g + 1),
        s"group g$g median est $med vs exact $exactMed")
    }
  }

  test("quantile rank target does not overflow at 100TB-regime n") {
    // forge the count: a sketch whose n exceeds the Long-overflow bound
    // of qPpm * n (~9.2e12 at qPpm=999999). With the old formula the
    // target went negative → clamped to 1 → p999999 returned the MIN.
    val sk = mkSketch(Seq(10L, 20L, 30L))
    sk.n = 4_000_000_000_000_000L // 4e15: qPpm*n ≈ 4e21 ≫ Long.Max
    // old: wrapped product → target -2.9e12 → clamp to 1 → returns 10
    assert(sk.quantile(999999L).contains(30L), "high quantile must hit the top value")
  }

  test("SQL surface: sketch → merge → quantile over a real DataFrame") {
    import spark.implicits._
    val df = (0L until 10000L).toDF("v")
    df.createOrReplaceTempView("kll_vals")
    // two-phase: per-bucket sketches, then merge — the deployment shape
    val row = spark.sql(
      """SELECT graft_kll_quantile(graft_kll_merge(sk), 500000L) AS med FROM (
        |  SELECT v % 8 AS g, graft_kll_sketch(v, 256) AS sk
        |  FROM kll_vals GROUP BY v % 8)""".stripMargin).collect()(0)
    val med = row.getLong(0)
    assert(math.abs(med - 5000L) <= 150L, s"median est $med") // 1.5% of 10k
    // one-phase grouped estimate matches the same bound
    val direct = spark.sql(
      """SELECT graft_kll_quantile(graft_kll_sketch(v, 256), 250000L) AS q1
        |FROM kll_vals""".stripMargin).collect()(0).getLong(0)
    assert(math.abs(direct - 2500L) <= 150L, s"q1 est $direct")
  }
}
