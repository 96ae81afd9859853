package graft

import org.apache.spark.sql.functions._
import graft.plans.{TopKPerKey, TopKPerKeyExec}

/** The custom physical operator (logical node + strategy + exec): result
  * parity with the window twin, plan shape (partial → exchange → final),
  * and the pruning claim (partial output ≤ partitions × keys × k).
  */
class TopKPerKeySpec extends SparkSpec {

  private def events = graft.engine.QueryBuilder.scan(spark, sf001, "events")
    .select("event_id", "user_id", "event_type", "value")

  test("topKPerKey equals the row_number window twin exactly") {
    import org.apache.spark.sql.expressions.Window
    val got = TopKPerKey.topKPerKey(events, Seq("user_id"),
        Seq(("value", false), ("event_id", true)), k = 2)
      .orderBy(col("user_id"), col("value").desc, col("event_id"))
      .collect().map(_.toSeq).toSeq
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("value").desc, col("event_id").asc)
    val want = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
      .orderBy(col("user_id"), col("value").desc, col("event_id"))
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  private def unwrap(p: org.apache.spark.sql.execution.SparkPlan) = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  test("plan is partial TopKPerKeyExec → exchange → final (map-side pruning)") {
    val df = TopKPerKey.topKPerKey(events, Seq("user_id"), Seq(("value", false), ("event_id", true)), 2)
    val plan = unwrap(df.queryExecution.executedPlan)
    val execs = plan.collect { case t: TopKPerKeyExec => t }
    assert(execs.map(_.partial).sorted == Seq(false, true), s"got $execs")
    val planStr = plan.toString()
    assert(planStr.contains("Exchange hashpartitioning(user_id"), planStr.take(1500))
    // the partial exec must sit BELOW the exchange (prunes pre-shuffle)
    val lines = planStr.linesIterator.toSeq
    val exchangeIdx = lines.indexWhere(_.contains("Exchange hashpartitioning"))
    val partialIdx = lines.indexWhere(_.contains("TopKPerKeyPartial"))
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, planStr.take(1500))
  }

  test("partial stage prunes: shuffled rows ≤ partitions × keys × k, not |input|") {
    // 16 input partitions, 3 keys, k=1 → at most 48 candidate rows cross
    // the shuffle (vs 6000 input rows); verify via the partial exec's RDD
    import spark.implicits._
    val df = (1 to 6000).map(i => (i.toLong, (i % 3).toLong, i.toDouble)).toDF("id", "key", "v")
      .repartition(16)
    val top = TopKPerKey.topKPerKey(df, Seq("key"), Seq(("v", false), ("id", true)), 1)
    // grab the partial exec from the pre-execution plan (after execution
    // AQE folds it inside a leaf ShuffleQueryStage)
    val partialExec = unwrap(top.queryExecution.executedPlan)
      .collect { case t: TopKPerKeyExec if t.partial => t }.head
    val rows = top.collect()
    assert(rows.length == 3)
    assert(rows.map(_.getDouble(2)).sorted.toSeq == Seq(5998.0, 5999.0, 6000.0))
    val partialCount = partialExec.execute().count()
    assert(partialCount <= 16L * 3 * 1, s"partial emitted $partialCount rows")
    assert(partialCount < 6000, "partial stage did not prune")
  }

  test("k larger than every group degenerates to identity (all rows kept)") {
    val n = events.count()
    val all = TopKPerKey.topKPerKey(events, Seq("user_id"),
      Seq(("value", false), ("event_id", true)), k = 1000000)
    assert(all.count() == n)
  }

  test("RewriteTopKWindow: window+filter+drop(rn) pattern auto-rewrites to TopKPerKey") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id").asc)
    // expected BEFORE triggering the rewrite pattern: keep rn in the
    // output (rule must NOT fire), drop it driver-side
    val keptRn = events.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    assert(unwrap(keptRn.queryExecution.executedPlan)
      .collect { case t: TopKPerKeyExec => t }.isEmpty,
      "rule fired although rn is still projected")
    val want = keptRn.drop("rn")
      .orderBy(col("user_id"), col("value").desc, col("event_id"))
      .collect().map(_.toSeq).toSeq
    // the rewritable shape: rn is dropped in the SAME plan
    val rewritten = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2).drop("rn")
    val execs = unwrap(rewritten.queryExecution.executedPlan)
      .collect { case t: TopKPerKeyExec => t }
    assert(execs.size == 2, "rewrite did not fire:\n" +
      rewritten.queryExecution.optimizedPlan.toString.take(1200))
    val got = rewritten.orderBy(col("user_id"), col("value").desc, col("event_id"))
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("RewriteTopKWindow leaves rank() (tie-admitting) windows alone") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc)
    val df = events.withColumn("rk", rank().over(w)).filter(col("rk") <= 2).drop("rk")
    assert(unwrap(df.queryExecution.executedPlan)
      .collect { case t: TopKPerKeyExec => t }.isEmpty,
      "rank() must not rewrite — ties admit more than k rows")
    df.count() // still executes fine through the window path
  }

  test("missing column is a plan-time error") {
    val e = intercept[IllegalArgumentException] {
      TopKPerKey.topKPerKey(events, Seq("ghost"), Seq(("value", false)), 2)
    }
    assert(e.getMessage.contains("no column 'ghost'"))
  }
}
