package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.TopKPerKeyExec

/** `GraftSession.build` is the only place graft's extensions are
  * installed: a built session resolves every graft SQL function from SQL
  * text and plans the rewritable window top-k shape through TopKPerKey
  * on its first run, with no install call anywhere. The function table's
  * argument validation fails with the documented messages.
  */
class GraftSessionSpec extends SparkSpec {

  test("every graft SQL function resolves from SQL text on a built session") {
    val r = spark.sql(
      """WITH t AS (SELECT * FROM VALUES (1L, 'a', 5L), (2L, 'b', 7L), (3L, 'a', 9L)
        |             AS t(v, item, hv)),
        |s AS (SELECT graft_kll_sketch(v, 200) AS kll, graft_mg_sketch(item, 8) AS mg,
        |             graft_kmv_sketch(hv, 16) AS kmv, graft_kmv_distinct(hv, 16) AS kd,
        |             graft_lvecsum(array(v, hv)) AS lv
        |      FROM t)
        |SELECT js_to_number('12abc'), graft_hex60(md5('x')), graft_hilbert(1L, 2L, 4),
        |       graft_kll_quantile(graft_kll_merge(kll), 1000000L),
        |       graft_mg_estimate(graft_mg_merge(mg), 'a'),
        |       graft_kmv_estimate(graft_kmv_merge(kmv)), first(kd), first(lv)
        |FROM s""".stripMargin).head()
    assert(r.getDouble(0) == 12.0)
    assert(r.getLong(1) == java.lang.Long.parseLong(
      org.apache.commons.codec.digest.DigestUtils.md5Hex("x").take(15), 16))
    assert(r.getLong(2) == graft.ops.Layout.hilbert2Local(1L, 2L, 4))
    assert(r.getLong(3) == 3L)
    assert(r.getLong(4) == 2L)
    assert(r.getLong(5) == 3L)
    assert(r.getLong(6) == 3L)
    assert(r.getSeq[Long](7) == Seq(6L, 21L))
  }

  test("rewritable window top-k plans as two TopKPerKeyExec on its first run") {
    val df = spark.range(0, 200).select((col("id") % 7).as("g"), col("id").as("v"))
    val w = Window.partitionBy(col("g")).orderBy(col("v").desc)
    val top = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 2).drop("rn")
    val plan = top.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert(plan.collect { case t: TopKPerKeyExec => t }.size == 2, plan.toString)
    val want = (0L until 200L).groupBy(_ % 7).toSeq
      .flatMap { case (g, vs) => vs.sorted.reverse.take(2).map(v => (g, v)) }.sorted
    assert(top.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted == want)
  }

  /** Asserts that running `sql` throws, with `msg` in the exception or a cause. */
  private def failsWith(sql: String, msg: String): Unit = {
    val e = intercept[Exception](spark.sql(sql).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains(msg)), s"no '$msg' in: ${msgs.mkString(" | ")}")
  }

  test("wrong arity fails with the function's usage message") {
    failsWith("SELECT graft_hex60()", "graft_hex60 takes exactly 1 argument")
    failsWith("SELECT graft_hilbert(1L, 2L)", "graft_hilbert takes (x BIGINT, y BIGINT, bits INT)")
    failsWith("SELECT graft_kll_merge(X'00', 1)", "graft_kll_merge takes (sketch BINARY)")
  }

  test("non-literal k fails with 'k must be an integer literal'") {
    Seq("graft_kll_sketch", "graft_kmv_sketch", "graft_kmv_distinct").foreach { fn =>
      failsWith(s"SELECT $fn(v, k) FROM VALUES (1L, 8) AS t(v, k)",
        s"$fn k must be an integer literal")
    }
    failsWith("SELECT graft_mg_sketch(s, k) FROM VALUES ('a', 8) AS t(s, k)",
      "graft_mg_sketch k must be an integer literal")
  }
}
