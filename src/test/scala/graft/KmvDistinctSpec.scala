package graft

import org.apache.spark.sql.functions._

/** Pins the KMV sketch aggregate's determinism contract: the result is a
  * pure function of the input's distinct SET — invariant under partition
  * layout, row order, and duplication — exact below k, and within the
  * published error envelope above it.
  */
class KmvDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def kmv(c: org.apache.spark.sql.Column, k: Int) =
    call_function("graft_kmv_distinct", c, lit(k))

  private def hashed(n: Int, tag: String) = {
    (1 to n).map(i => s"$tag:$i").toDF("s")
      .select(graft.ops.Dedup.hex60(md5(col("s").cast("binary"))).as("hv"))
  }

  test("partition layout and duplication cannot change the estimate") {
    val base = hashed(5000, "layout")
    val one = base.repartition(1).agg(kmv(col("hv"), 64)).head.getLong(0)
    val many = base.repartition(17).agg(kmv(col("hv"), 64)).head.getLong(0)
    val duped = base.unionAll(base).unionAll(base).repartition(5)
      .agg(kmv(col("hv"), 64)).head.getLong(0)
    assert(one == many && one == duped)
  }

  test("fewer than k distinct values returns the exact count") {
    assert(hashed(40, "exact").agg(kmv(col("hv"), 64)).head.getLong(0) == 40L)
    assert(hashed(63, "exact").unionAll(hashed(63, "exact"))
      .agg(kmv(col("hv"), 64)).head.getLong(0) == 63L)
  }

  test("estimate stays inside ~4/sqrt(k) of truth across scales (k=256)") {
    Seq(2000, 20000).foreach { n =>
      val est = hashed(n, s"acc$n").agg(kmv(col("hv"), 256)).head.getLong(0)
      val relErr = math.abs(est - n).toDouble / n
      assert(relErr < 4.0 / math.sqrt(256.0), s"n=$n est=$est relErr=$relErr")
    }
  }

  test("nulls are ignored; all-null input evaluates to 0") {
    val withNulls = Seq[(java.lang.Long, Int)]((1L, 0), (2L, 0), (null, 0), (null, 0))
      .toDF("hv", "g")
    assert(withNulls.agg(kmv(col("hv"), 8)).head.getLong(0) == 2L)
    assert(withNulls.filter(col("hv").isNull).agg(kmv(col("hv"), 8)).head.getLong(0) == 0L)
  }

  test("grouped sketch agrees with per-group single-partition recompute") {
    val df = (1 to 4000).map(i => (i % 7, s"g:${i % 7}:${i / 7}")).toDF("g", "s")
      .select(col("g"), graft.ops.Dedup.hex60(md5(col("s").cast("binary"))).as("hv"))
    val grouped = df.repartition(13).groupBy("g").agg(kmv(col("hv"), 32).as("e"))
      .as[(Int, Long)].collect().toMap
    (0 until 7).foreach { g =>
      val solo = df.filter(col("g") === g).coalesce(1)
        .agg(kmv(col("hv"), 32)).head.getLong(0)
      assert(grouped(g) == solo, s"group $g")
    }
  }

  // ---- two-phase surface (sketch -> BINARY partials -> merge -> estimate)

  test("two-phase sketch/merge/estimate equals the one-shot aggregate under any sharding") {
    val df = (1 to 5000).map(i => (i % 11, s"tp:${i % 900}")).toDF("shard", "s")
      .select(col("shard"), graft.ops.Dedup.hex60(md5(col("s").cast("binary"))).as("hv"))
    val oneShot = df.agg(kmv(col("hv"), 64)).head.getLong(0)
    val twoPhase = df.groupBy(col("shard"))
      .agg(call_function("graft_kmv_sketch", col("hv"), lit(64)).as("sk"))
      .agg(call_function("graft_kmv_merge", col("sk")).as("sk"))
      .select(call_function("graft_kmv_estimate", col("sk")))
      .head.getLong(0)
    assert(twoPhase == oneShot, s"two-phase $twoPhase != one-shot $oneShot")
  }

  test("kmv summary merge: marker adoption and loud k mismatch") {
    import graft.functions.Kmv
    val a = new Kmv.Summary(8); (1L to 20L).foreach(a.insert)
    val marker = new Kmv.Summary(0)
    marker.merge(a)
    assert(marker.k == 8 && marker.values.size == 8)
    val b = new Kmv.Summary(4); (1L to 9L).foreach(b.insert)
    val e = intercept[IllegalArgumentException](a.merge(b))
    assert(e.getMessage.contains("k mismatch"))
    // serialize round-trip preserves k and values
    val back = Kmv.deserialize(a.serialize)
    assert(back.k == a.k && back.values == a.values)
    assert(back.estimate == a.estimate)
  }
}
