package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{AggSpec, Connector, Filter, GroupBySpec, JoinSpec, Sort}
import graft.ops.ExactAgg
import graft.transform.Transforms

/** Compiles the declarative [[graft.model.Connector]] into a Spark logical
  * plan: scan → filter → transform → joins → groupBy/having → select →
  * sort → offset/limit (joins/groupBy are the SURVEY §7.1 extensions).
  *
  * This replaces the reference's per-adapter query compilers (e.g.
  * buildSelectQuery, adapters/postgresql/src/index.ts:147-190; Mongo find
  * doc, adapters/mongodb/src/index.ts:202-240; HubSpot search body,
  * adapters/hubspot/src/index.ts:357-432). Because the plan is declarative,
  * Catalyst performs the pushdowns those adapters hand-coded — predicate
  * pushdown, column pruning and limit pushdown all reach the parquet scan
  * (SURVEY §4) — and the same Connector runs unchanged at any scale.
  */
object QueryBuilder {

  /** Filter-op registry — the cross-adapter operator union (SURVEY §2.2
    * F2-F4; reference src/types.ts:157-199). All filters AND-combine (F1).
    */
  def filterToColumn(f: Filter): Column = {
    val c = col(f.field)
    def l(v: Any) = lit(v)
    f.operator match {
      case "="  | "eq"  => c === l(f.value)
      case "!=" | "neq" => c =!= l(f.value)
      case ">"          => c > l(f.value)
      case ">="         => c >= l(f.value)
      case "<"          => c < l(f.value)
      case "<="         => c <= l(f.value)
      case "contains"     => c.cast("string").contains(f.value.toString)
      case "not_contains" => !c.cast("string").contains(f.value.toString)
      case "starts_with"  => c.cast("string").startsWith(f.value.toString) // S3 prefix analogue (F5)
      case "in" =>
        c.isin(f.value.asInstanceOf[Seq[Any]]: _*)
      case "not_in" =>
        !c.isin(f.value.asInstanceOf[Seq[Any]]: _*)
      case "between" =>
        val Seq(lo, hi) = f.value.asInstanceOf[Seq[Any]]
        c.between(l(lo), l(hi))
      case "not_between" =>
        val Seq(lo, hi) = f.value.asInstanceOf[Seq[Any]]
        !c.between(l(lo), l(hi))
      case "is_null"     => c.isNull
      case "is_not_null" => c.isNotNull
      case other =>
        // Reference passes unmapped operators through verbatim
        // (adapters/hubspot/src/index.ts:397). We guard with an allowlist
        // instead of interpolating arbitrary strings (SURVEY §2.2 F6).
        throw new IllegalArgumentException(s"unsupported filter operator: $other")
    }
  }

  def sortToColumn(s: Sort): Column =
    if (s.ascending) col(s.field).asc else col(s.field).desc

  /** Agg registry (extension — SURVEY §7.1). sum/avg take the ExactAgg
    * decimal path so the declarative surface inherits order-independent
    * numerics; unknown functions fail at plan build (allowlist, like F6).
    */
  def aggToColumn(a: AggSpec): Column = {
    val named = a.function match {
      case "count"          => count(lit(1))
      case "sum"            => ExactAgg.dsum(col(a.field))
      case "avg"            => ExactAgg.davg(col(a.field))
      case "min"            => min(col(a.field))
      case "max"            => max(col(a.field))
      case "count_distinct" => countDistinct(col(a.field))
      case other =>
        throw new IllegalArgumentException(s"unsupported aggregate function: $other")
    }
    named.as(Option(a.as).getOrElse(
      if (a.field == null) a.function else s"${a.function}_${a.field}"))
  }

  /** Window registry (extension — SURVEY §7.1). Aggregating windows use
    * the ExactAgg running-sum path; rank-family functions need no field.
    */
  def windowToColumn(w: graft.model.WindowFnSpec): Column = {
    import org.apache.spark.sql.expressions.Window
    require(w.orderBy.nonEmpty || Set("sum", "avg", "min", "max", "count")(w.function),
      s"window function ${w.function} requires orderBy")
    val base = if (w.partitionBy.nonEmpty)
      Window.partitionBy(w.partitionBy.map(col): _*) else Window.partitionBy()
    val spec = if (w.orderBy.nonEmpty) base.orderBy(w.orderBy.map(sortToColumn): _*) else base
    val c = w.function match {
      case "row_number" => row_number().over(spec)
      case "rank"       => rank().over(spec)
      case "dense_rank" => dense_rank().over(spec)
      case "lag"        => lag(col(w.field), w.offset).over(spec)
      case "lead"       => lead(col(w.field), w.offset).over(spec)
      case "sum" =>
        val frame = if (w.orderBy.nonEmpty)
          spec.rowsBetween(Window.unboundedPreceding, Window.currentRow) else spec
        ExactAgg.dsumOver(col(w.field), frame)
      case "avg"   => avg(col(w.field)).over(spec)
      case "min"   => min(col(w.field)).over(spec)
      case "max"   => max(col(w.field)).over(spec)
      case "count" => count(lit(1)).over(spec)
      case other =>
        throw new IllegalArgumentException(s"unsupported window function: $other")
    }
    c.as(Option(w.as).getOrElse(
      if (w.field == null) w.function else s"${w.function}_${w.field}"))
  }

  private val joinTypes =
    Set("inner", "left", "right", "full", "left_semi", "left_anti")

  private def applyJoin(spark: SparkSession, dir: String,
                        df: DataFrame, j: JoinSpec): DataFrame = {
    if (!joinTypes(j.joinType))
      throw new IllegalArgumentException(s"unsupported join type: ${j.joinType}")
    val right0 = scan(spark, dir, j.table)
    val right = if (j.broadcastRight) broadcast(right0) else right0
    if (j.leftOn == j.rightOn) df.join(right, Seq(j.leftOn), j.joinType)
    else df.join(right, df(j.leftOn) === right(j.rightOn), j.joinType)
  }

  private def applyGroupBy(df: DataFrame, g: GroupBySpec): DataFrame = {
    require(g.aggs.nonEmpty, "groupBy requires at least one aggregate")
    val aggCols = g.aggs.map(aggToColumn)
    val grouped = df.groupBy(g.fields.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
    if (g.having.nonEmpty)
      grouped.filter(g.having.map(filterToColumn).reduce(_ && _))
    else grouped
  }

  /** Normalize an events-style `ts` column to TIMESTAMP (LTZ, micros) —
    * the invariant every downstream consumer (windows, watermarks,
    * unix_micros sessionization) relies on. The driver's generator has
    * shipped ts as parquet TIMESTAMP(NANOS) (read as long under
    * spark.sql.legacy.parquet.nanosAsLong) and as TIMESTAMP(MICROS)
    * without a UTC flag (read as TIMESTAMP_NTZ); accept all three
    * representations so a testdata regeneration can't strand the ts
    * consumers. Values are identical either way under the pinned UTC
    * session timezone (matches DuckDB's naive-timestamp reading).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.LongType) =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Scan a named testdata table: `$dir/$table.parquet`. */
  def scan(spark: SparkSession, dir: String, table: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$table.parquet"))

  /** Endpoint-resolved build: empty Connector.fields takes the
    * endpoint's defaultFields (reference src/index.ts:96-109 getEndpoint
    * + :200-206 defaults copy-down).
    */
  def buildFromEndpoint(spark: SparkSession, dir: String,
                        catalog: Map[String, graft.model.Endpoint],
                        endpointName: String, c: Connector): DataFrame = {
    val ep = catalog.getOrElse(endpointName,
      throw new IllegalArgumentException(s"unknown endpoint '$endpointName'"))
    val effective = c.copy(
      table = ep.table,
      fields = if (c.fields.nonEmpty) c.fields else ep.defaultFields)
    build(spark, dir, effective)
  }

  /** Full Connector compile. Order mirrors the reference's observable
    * semantics: filters and projection are source-pushed (adapters), the
    * transform fold runs after extraction (src/index.ts:419-421), sort and
    * limit are pushed (SURVEY §2.5). We filter before transform (matches
    * the reference: filters reference source fields only), project after
    * transform (transforms may create the projected fields).
    */
  def build(spark: SparkSession, dir: String, c: Connector): DataFrame = {
    var df = scan(spark, dir, c.table)
    if (c.filters.nonEmpty)
      df = df.filter(c.filters.map(filterToColumn).reduce(_ && _))
    if (c.transformations.nonEmpty)
      df = Transforms.applyAll(df, c.transformations)
    // extensions: sample/dedup clean the source before joins (so the
    // joins see the reduced set), windows after joins, aggregation last,
    // HAVING on agg output
    c.sample.foreach { sp =>
      require(sp.percent >= 0 && sp.percent <= 100, s"sample percent out of range: ${sp.percent}")
      // native hex60 (one codegen'd byte loop): this predicate runs once
      // per source row — the composed 15-term form costs whole seconds
      // at sf0.1. Identical values (Hex60Spec), so oracles are unchanged
      df = df.filter(
        call_function("graft_hex60", md5(concat(lit(sp.salt + ":"),
          col(sp.column).cast("string")).cast("binary"))) % 100 < sp.percent)
    }
    c.upsert.foreach { up =>
      require(up.keys.nonEmpty, "upsert requires at least one key")
      df = graft.ops.Merge.latest(df, up.keys, up.versionCols)
    }
    c.dedup.foreach { dd =>
      require(dd.keys.nonEmpty, "dedup requires at least one key")
      df = graft.ops.Merge.keepExtremum(df, dd.keys, leading = Nil, takeMax = false)
    }
    c.joins.foreach(j => df = applyJoin(spark, dir, df, j))
    c.windows.foreach(w => df = df.withColumn(
      Option(w.as).getOrElse(if (w.field == null) w.function else s"${w.function}_${w.field}"),
      windowToColumn(w)))
    c.groupBy.foreach(g => df = applyGroupBy(df, g))
    if (c.fields.nonEmpty)
      df = df.select(c.fields.map(col): _*)
    if (c.sort.nonEmpty)
      df = df.orderBy(c.sort.map(sortToColumn): _*)
    if (c.offset > 0)
      df = df.offset(c.offset.toInt)
    if (c.limit > 0 && c.limit < Long.MaxValue)
      df = df.limit(c.limit.toInt)
    df
  }
}
