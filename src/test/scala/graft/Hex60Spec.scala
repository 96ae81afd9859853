package graft

import org.apache.spark.sql.functions._
import graft.functions.GraftExtensions
import graft.ops.Dedup

/** Native graft_hex60 (functions/Hex60.scala) must agree exactly with the
  * portable Column composition (Dedup.hex60) it replaces on the dedup
  * hot paths — the DuckDB oracles are written against the composition's
  * arithmetic.
  */
class Hex60Spec extends SparkSpec {

  test("native graft_hex60 equals the substring/instr composition on md5 output") {
    val df = spark.range(0, 5000)
      .withColumn("h", md5(concat(lit("hex60:"), col("id").cast("string")).cast("binary")))
      .withColumn("composed", Dedup.hex60(col("h")))
      .withColumn("native", GraftExtensions.graft_hex60(col("h")))
    assert(df.filter(col("composed") =!= col("native")).count() == 0)
    // range sanity: 60-bit non-negative
    val mm = df.agg(min("native"), max("native")).head()
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < (1L << 60))
  }

  test("graft_hex60 matches on short / malformed input (instr-miss arithmetic)") {
    import spark.implicits._
    // non-hex chars and strings shorter than 15 follow the composition's
    // (instr - 1) = -1 digit value
    val df = Seq("", "abc", "ABCDEF0123456789", "zzzzzzzzzzzzzzzz", "0123456789abcde")
      .toDF("h")
      .withColumn("composed", Dedup.hex60(col("h")))
      .withColumn("native", GraftExtensions.graft_hex60(col("h")))
    assert(df.filter(col("composed") =!= col("native")).count() == 0)
  }

  test("graft_hex60 participates in whole-stage codegen") {
    val df = spark.range(0, 10)
      .select(GraftExtensions.graft_hex60(
        md5(col("id").cast("string").cast("binary"))).as("v"))
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1)"), plan.take(800))
    assert(df.count() == 10)
  }

  test("minhash pipeline output is unchanged by the native expression") {
    // end-to-end pin at sf0.001: 28 pairs — the same count the portable
    // composition produced (per-row equivalence is pinned above; this
    // guards the wiring through minhashDedup/bandCandidates)
    val docs = graft.engine.QueryBuilder.scan(spark, sf001, "documents")
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    assert(pairs.length == 28)
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }
}
