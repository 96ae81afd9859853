package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import graft.ops.{SessionMemo, StorageMemos}

/** Mechanics of the session memo behind the graph, ER, suffix-array and
  * ANN-deploy caches: LRU hits, release on eviction, the session-reference
  * key, and harness invalidation. */
class SessionMemoSpec extends SparkSpec {

  private def chk(n: Int): DataFrame = spark.range(n).toDF("v").localCheckpoint()
  private def checkpointMemo() = new SessionMemo[String, DataFrame](SessionMemo.releaseCheckpoints)

  /** Every checkpoint RDD under `df` is still registered as persistent. */
  private def persisted(df: DataFrame): Boolean = {
    val ids = df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id }
    ids.nonEmpty && ids.forall(spark.sparkContext.getPersistentRDDs.contains)
  }

  test("a hit returns the same instance and does not run build again") {
    val memo = checkpointMemo()
    var builds = 0
    val a = memo(spark, "a") { builds += 1; chk(3) }
    val b = memo(spark, "a") { builds += 1; chk(3) }
    assert((a eq b) && builds == 1)
    assert(memo.get(spark, "a").exists(_ eq a))
  }

  test("a third key evicts the least recently used entry and frees its checkpoint") {
    assert(SessionMemo.Capacity == 2)
    val memo = checkpointMemo()
    val a = memo(spark, "a")(chk(4))
    val b = memo(spark, "b")(chk(5))
    memo(spark, "a")(fail("a is memoized")) // a is now most recent
    val c = memo(spark, "c")(chk(6))
    assert(memo.get(spark, "b").isEmpty)
    assert(!persisted(b), "evicted checkpoint RDD is still persisted")
    assert(memo.get(spark, "a").exists(_ eq a) && memo.get(spark, "c").exists(_ eq c))
    assert(persisted(a) && persisted(c))
    assert(a.count() == 4 && c.count() == 6)
  }

  test("the same key under another session misses") {
    val memo = checkpointMemo()
    val a = memo(spark, "k")(chk(7))
    val other = spark.newSession()
    var built = false
    val b = memo(other, "k") { built = true; other.range(7).toDF("v").localCheckpoint() }
    assert(built && !(a eq b))
    assert(memo.get(spark, "k").exists(_ eq a) && memo.get(other, "k").exists(_ eq b))
  }

  test("StorageMemos.invalidateAll releases and drops every entry; the next call rebuilds") {
    val memo = checkpointMemo()
    val a = memo(spark, "a")(chk(8))
    val b = memo(spark, "b")(chk(9))
    StorageMemos.invalidateAll()
    assert(!persisted(a) && !persisted(b))
    assert(memo.get(spark, "a").isEmpty && memo.get(spark, "b").isEmpty)
    var builds = 0
    val a2 = memo(spark, "a") { builds += 1; chk(8) }
    assert(builds == 1 && !(a2 eq a) && a2.count() == 8)
  }
}
