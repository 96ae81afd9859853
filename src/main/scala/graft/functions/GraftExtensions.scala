package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.{call_function, lit}

/** graft's Catalyst extensions: the native SQL functions below, the
  * SimplifyJsToNumber and RewriteTopKWindow optimizer rules and the
  * TopKPerKeyStrategy planner strategy. `GraftSession.build` installs
  * them once on every session it builds, so a plan never depends on
  * which query ran first. The rules go through
  * `spark.experimental.extraOptimizations`, i.e. Spark's "User Provided
  * Optimizers" batch.
  */
object GraftExtensions {

  /** `k` argument of the sketch functions: an integer literal. */
  private def intLiteral(fn: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$fn k must be an integer literal, got $other")
  }

  /** (SQL name, expression class, arity, usage message on a wrong arity,
    * builder over arity-checked arguments).
    */
  private val functions: Seq[(String, Class[_ <: Expression], Int, String, Seq[Expression] => Expression)] = Seq(
    ("js_to_number", classOf[JsToNumber], 1,
      "js_to_number takes exactly 1 argument", c => JsToNumber(c(0))),
    ("graft_hex60", classOf[Hex60], 1,
      "graft_hex60 takes exactly 1 argument", c => Hex60(c(0))),
    ("graft_hilbert", classOf[HilbertIndex], 3,
      "graft_hilbert takes (x BIGINT, y BIGINT, bits INT)", c => HilbertIndex(c(0), c(1), c(2))),
    ("graft_kmv_distinct", classOf[KmvDistinct], 2,
      "graft_kmv_distinct takes (hash BIGINT, k INT literal)",
      c => KmvDistinct(c(0), intLiteral("graft_kmv_distinct", c(1)))),
    ("graft_kll_sketch", classOf[KllSketchAgg], 2,
      "graft_kll_sketch takes (v BIGINT, k INT literal)",
      c => KllSketchAgg(c(0), intLiteral("graft_kll_sketch", c(1)))),
    ("graft_kll_merge", classOf[KllMergeAgg], 1,
      "graft_kll_merge takes (sketch BINARY)", c => KllMergeAgg(c(0))),
    ("graft_kll_quantile", classOf[KllQuantile], 2,
      "graft_kll_quantile takes (sketch BINARY, q_ppm BIGINT)", c => KllQuantile(c(0), c(1))),
    ("graft_mg_sketch", classOf[MgSketchAgg], 2,
      "graft_mg_sketch takes (item STRING, k INT literal)",
      c => MgSketchAgg(c(0), intLiteral("graft_mg_sketch", c(1)))),
    ("graft_mg_merge", classOf[MgMergeAgg], 1,
      "graft_mg_merge takes (sk BINARY)", c => MgMergeAgg(c(0))),
    ("graft_mg_estimate", classOf[MgEstimate], 2,
      "graft_mg_estimate takes (sk BINARY, item STRING)", c => MgEstimate(c(0), c(1))),
    ("graft_kmv_sketch", classOf[KmvSketchAgg], 2,
      "graft_kmv_sketch takes (hash BIGINT, k INT literal)",
      c => KmvSketchAgg(c(0), intLiteral("graft_kmv_sketch", c(1)))),
    ("graft_kmv_merge", classOf[KmvMergeAgg], 1,
      "graft_kmv_merge takes (sk BINARY)", c => KmvMergeAgg(c(0))),
    ("graft_kmv_estimate", classOf[KmvEstimate], 1,
      "graft_kmv_estimate takes (sk BINARY)", c => KmvEstimate(c(0))),
    ("graft_lvecsum", classOf[LongVecSumAgg], 1,
      "graft_lvecsum takes (v ARRAY<BIGINT>)", c => LongVecSumAgg(c(0)))
  )

  /** Register the functions, rules (SimplifyJsToNumber, then
    * RewriteTopKWindow) and strategy on `spark`. Called by
    * `GraftSession.build` only; idempotent, since `getOrCreate` can hand
    * it an already-installed session.
    */
  def install(spark: SparkSession): Unit = {
    functions.foreach { case (name, cls, arity, usage, build) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (children: Seq[Expression]) => {
          require(children.size == arity, usage)
          build(children)
        })
    }
    val exp = spark.experimental
    Seq(SimplifyJsToNumber, graft.plans.RewriteTopKWindow).foreach { rule =>
      if (!exp.extraOptimizations.contains(rule))
        exp.extraOptimizations = exp.extraOptimizations :+ rule
    }
    if (!exp.extraStrategies.contains(graft.plans.TopKPerKeyStrategy))
      exp.extraStrategies = exp.extraStrategies :+ graft.plans.TopKPerKeyStrategy
  }

  /** Column-API entry point for the native JS Number() coercion. */
  def js_to_number(c: Column): Column = call_function("js_to_number", c)

  /** Column-API entry point for the native hex60. */
  def graft_hex60(c: Column): Column = call_function("graft_hex60", c)

  /** Column-API entry point for the native Hilbert index. */
  def graft_hilbert(x: Column, y: Column, bits: Int): Column =
    call_function("graft_hilbert", x, y, lit(bits))
}
