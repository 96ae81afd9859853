package graft.queries

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.ExactAgg._
import graft.ops.Joins

/** Advanced tier: skew-salted join, partitioned-write + partition-pruned
  * read, the full user-code surface (UDF / UDAF via Aggregator / UDTF via
  * posexplode — SURVEY §2.8), GROUPING SETS, and pivot.
  */
object AdvancedQueries {

  /** Exact sum-of-squares Aggregator (UDAF) — integer arithmetic so the
    * distributed merge is order-independent and oracle-exact.
    */
  object SumSq extends Aggregator[Long, Long, Long] {
    def zero: Long = 0L
    def reduce(b: Long, a: Long): Long = b + a * a
    def merge(b1: Long, b2: Long): Long = b1 + b2
    def finish(r: Long): Long = r
    def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // salting changes only shuffle distribution, not the result set.
    // threshold=3 marks orders with ≥4 lineitems "hot" so BOTH paths
    // (salted hot keys + plain cold join) carry real data here
    "q_join_salted" -> ((s: SparkSession, d: String) => {
      val li = scan(s, d, "lineitem").select("l_orderkey", "l_quantity")
      val o = scan(s, d, "orders").select("o_orderkey", "o_totalprice")
        .withColumnRenamed("o_orderkey", "l_orderkey")
      Joins.saltedJoin(li, o, "l_orderkey", saltFactor = 8, hotKeyThreshold = 3)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
          max(col("o_totalprice")).as("price"))
        .orderBy(col("l_orderkey"))
    }),

    // write partitioned by a column, read back with a partition filter —
    // the layout a 100 TB table would use for pruning
    "q_partitioned_scan" -> ((s: SparkSession, d: String) => {
      val out = graft.streaming.StreamOps.landing(s, d, "q_partitioned_scan").path
      scan(s, d, "orders").write.mode("overwrite")
        .partitionBy("o_orderstatus").parquet(out)
      s.read.parquet(out)
        .filter(col("o_orderstatus") === "O")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // scalar UDF (the reference's declared-but-dead Function transform,
    // T14): digit sum of the order key
    "q_udf_scalar" -> ((s: SparkSession, d: String) => {
      val digitSum = udf((k: Long) => k.toString.map(_ - '0').sum)
      scan(s, d, "orders")
        .select(col("o_orderkey"), digitSum(col("o_orderkey")).as("key_digit_sum"))
        .orderBy(col("o_orderkey"))
    }),

    // typed Aggregator UDAF: exact integer sum of squares per flag
    "q_udaf_sumsq" -> ((s: SparkSession, d: String) => {
      val sumsq = udaf(SumSq)
      scan(s, d, "lineitem")
        .withColumn("qty_int", col("l_quantity").cast("long"))
        .groupBy(col("l_returnflag"))
        .agg(sumsq(col("qty_int")).as("sum_qty_sq"), count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // UDTF/generator surface: posexplode words with their positions
    "q_udtf_explode" -> ((s: SparkSession, d: String) => {
      scan(s, d, "documents")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"), posexplode(split(trim(col("text")), "\\s+")).as(Seq("pos", "word")))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // Z-order (Morton) clustering key over (nation, balance-bucket) —
    // the multi-dimensional layout key (see ops/Layout.scala and
    // ZOrderSpec for the file-locality demonstration)
    "q_zorder" -> ((s: SparkSession, d: String) => {
      val zin1 = col("c_nationkey").cast("long")
      val zin2 = pmod(floor(col("c_acctbal")).cast("long"), lit(1024L))
      scan(s, d, "customer")
        .select(col("c_custkey"),
          graft.ops.Layout.zorder2(zin1, zin2, bits = 10).as("zkey"))
        .orderBy(col("c_custkey"))
    }),

    // Hilbert clustering key over the same dims — the curve without
    // Z-order's seams (consecutive keys are always grid neighbors; see
    // HilbertSpec for the adjacency + locality comparison)
    // the NATIVE graft_hilbert expression (one generated loop): the
    // composed-Column form grows ~5× per curve level (6 bits ≈ 3s of
    // Janino), the native loop is O(bits) generated bytes — so 8-bit
    // resolution here and 16-bit in HilbertSpec cost nothing. Equivalence
    // with the composed form is pinned in HilbertSpec
    "q_hilbert" -> ((s: SparkSession, d: String) => {
      val hx = pmod(col("c_nationkey").cast("long"), lit(256L))
      val hy = pmod(floor(col("c_acctbal")).cast("long"), lit(256L))
      scan(s, d, "customer")
        .select(col("c_custkey"),
          graft.functions.GraftExtensions.graft_hilbert(hx, hy, 8).as("hkey"))
        .orderBy(col("c_custkey"))
    }),

    // unpivot/melt: wide measure columns → long (measure, val) rows —
    // the normalization step feature-store pipelines run before
    // per-feature aggregation. Narrow op, no shuffle
    "q_unpivot" -> ((s: SparkSession, d: String) => {
      scan(s, d, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
          "measure", "val")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("measure"), col("val"))
    }),

    // explicit GROUPING SETS with grouping_id disambiguation
    "q_agg_groupingsets" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders").createOrReplaceTempView("orders_gs")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
          |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
          |       COUNT(*) AS n
          |FROM orders_gs
          |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
          |ORDER BY g_status, g_prio, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
    }),

    // pivot: status × priority revenue matrix (exact decimal sums)
    "q_pivot" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(dsum(col("o_totalprice")))
        .orderBy(col("o_orderpriority"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_join_salted" ->
      s"""SELECT l_orderkey, COUNT(*) AS n, ${sqlDsum("l_quantity")} AS sum_qty,
         |       MAX(o_totalprice) AS price
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    "q_partitioned_scan" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_orderkey""".stripMargin,
    "q_udf_scalar" ->
      """SELECT o_orderkey,
        |  CAST(list_sum([CAST(x AS INT) for x in regexp_extract_all(o_orderkey::VARCHAR, '[0-9]')]) AS INT)
        |    AS key_digit_sum
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_udaf_sumsq" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty_sq,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_udtf_explode" ->
      raw"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws
           |           FROM documents WHERE doc_id < 50)
           |SELECT doc_id,
           |       CAST(unnest(range(1, len(ws) + 1)) - 1 AS INT) AS pos,
           |       unnest(ws) AS word
           |FROM w ORDER BY doc_id, pos""".stripMargin,
    "q_zorder" -> {
      val zb = graft.ops.Layout.sqlZorder2(
        "c_nationkey",
        "((CAST(floor(c_acctbal) AS BIGINT) % 1024) + 1024) % 1024",
        bits = 10)
      s"""SELECT c_custkey, $zb AS zkey
         |FROM customer ORDER BY c_custkey""".stripMargin
    },
    "q_hilbert" -> {
      val ctes = graft.ops.Layout.sqlHilbert2Ctes("msrc", Seq("c_custkey"), bits = 8)
      s"""WITH msrc AS (SELECT c_custkey,
         |  ((c_nationkey % 256) + 256) % 256 AS hx,
         |  ((CAST(floor(c_acctbal) AS BIGINT) % 256) + 256) % 256 AS hy
         |  FROM customer),
         |$ctes
         |SELECT c_custkey, h AS hkey FROM hfinal ORDER BY c_custkey""".stripMargin
    },
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, name AS measure, value AS val
        |FROM (UNPIVOT (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount
        |               FROM lineitem)
        |      ON l_quantity, l_extendedprice, l_discount INTO NAME name VALUE value)
        |ORDER BY l_orderkey, l_linenumber, measure, val""".stripMargin,
    "q_agg_groupingsets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       CAST(grouping(o_orderstatus) AS INT) AS g_status,
        |       CAST(grouping(o_orderpriority) AS INT) AS g_prio,
        |       COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY g_status, g_prio, o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin,
    "q_pivot" ->
      s"""SELECT o_orderpriority,
         |  ${sqlDsum("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS F,
         |  ${sqlDsum("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS O,
         |  ${sqlDsum("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS P
         |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin
  )
}
