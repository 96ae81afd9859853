package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions

/** Native js_to_number expression: JS parseFloat||0 golden vectors (same
  * as TransformsSpec's toNumber), SQL-text registration via extensions,
  * and codegen/interpreted agreement.
  */
class JsToNumberSpec extends SparkSpec {
  import spark.implicits._

  private val vectors = Seq(
    "260" -> 260.0, "12abc" -> 12.0, "abc" -> 0.0, "" -> 0.0,
    "  3.5e2xyz" -> 350.0, "-4.25" -> -4.25, "0" -> 0.0, "NaNish" -> 0.0,
    ".5" -> 0.5, "+7" -> 7.0, "1e" -> 1.0, "2e-1" -> 0.2, "5." -> 5.0)

  test("golden vectors via SQL text (extensions registration)") {
    val df = vectors.map(_._1).toDF("v")
    df.createOrReplaceTempView("jsnum_t")
    val out = spark.sql("SELECT js_to_number(v) FROM jsnum_t").as[Double].collect().toSeq
    assert(out == vectors.map(_._2))
  }

  test("golden vectors via Column API") {
    val out = vectors.map(_._1).toDF("v")
      .select(GraftExtensions.js_to_number(col("v"))).as[Double].collect().toSeq
    assert(out == vectors.map(_._2))
  }

  test("null input → 0 (JS || 0)") {
    val out = Seq[String](null, "3").toDF("v")
      .select(GraftExtensions.js_to_number(col("v"))).as[Double].collect().toSeq
    assert(out == Seq(0.0, 3.0))
  }

  test("agrees with the regexp-composition Transforms.toNumber on data") {
    val df = graft.engine.QueryBuilder.scan(spark, sf001, "customer")
      .withColumn("s", col("c_acctbal").cast("string"))
    val both = df.select(
      GraftExtensions.js_to_number(col("s")).as("a"),
      graft.transform.Transforms.toNumber(col("s")).as("b"))
    assert(both.filter(col("a") =!= col("b")).count() == 0)
  }

  test("SimplifyJsToNumber rewrites js_to_number(cast(int as string)) to a cast") {
    val df = graft.engine.QueryBuilder.scan(spark, sf001, "customer")
      .select(GraftExtensions.js_to_number(col("c_custkey").cast("string")).as("n"))
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(!optimized.toLowerCase.contains("js_to_number"), optimized)
    // and the rewrite preserves values
    val viaCast = graft.engine.QueryBuilder.scan(spark, sf001, "customer")
      .select(col("c_custkey").cast("double").as("n"))
    assert(df.collect().map(_.getDouble(0)).toSeq ==
      viaCast.collect().map(_.getDouble(0)).toSeq)
  }

  test("SimplifyJsToNumber does NOT rewrite floating-point children (-0.0 semantics)") {
    val df = graft.engine.QueryBuilder.scan(spark, sf001, "customer")
      .select(GraftExtensions.js_to_number(col("c_acctbal").cast("string")).as("n"))
    assert(df.queryExecution.optimizedPlan.toString().toLowerCase.contains("js_to_number"))
  }

  test("expression participates in whole-stage codegen") {
    // parquet-backed (a local Seq gets folded to LocalTableScan via
    // interpreted eval, bypassing codegen)
    val df = graft.engine.QueryBuilder.scan(spark, sf001, "customer")
      .select(GraftExtensions.js_to_number(col("c_name")).as("n"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1)"), plan.take(500)) // codegen stage marker
    assert(df.count() > 0) // and the generated code actually compiles/runs
  }
}
