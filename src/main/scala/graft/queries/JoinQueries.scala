package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.{ExactAgg, Joins}

/** Join surface (SURVEY §2.4 — absent in the reference, full extension
  * tier here): inner/left/semi/anti, broadcast star join, range join,
  * as-of join. Dimension tables (region/nation/supplier) are explicitly
  * broadcast — at 100 TB the fact side never shuffles for those joins.
  */
object JoinQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // SPATIAL GRID JOIN — radius search as a blocked equi-join: points
    // land in 100×100 cells; each probe point explodes to its 3×3 cell
    // neighborhood and equi-joins build points on the cell id, then an
    // exact integer squared-distance verify keeps pairs within r=30.
    // Never all-pairs: candidates ∝ points × local density, and the
    // cell id is the partition key a 100 TB point table would be laid
    // out on. Every pair matches in exactly one (build-cell) block, so
    // no distinct is needed. Coordinates are synthesized hash grids
    // (the tables carry no geometry) — the join shape is what's under
    // test, and all arithmetic stays in exact longs.
    // The world size M GROWS with the point count (M ∝ √N, pinned to
    // 1000 at sf0.01's 1500 customers so the oracle is unchanged):
    // a FIXED world means 10× points = 10× density = 100× pairs — the
    // r7 100× gate measured exactly that (64× wall-clock) — while a
    // √N world keeps density, pairs-per-cell and output linear in N,
    // which is how a real ingest behaves (more data covers more world,
    // it doesn't stack on the same square)
    "q_geo_join" -> ((s: SparkSession, d: String) => {
      val cust = scan(s, d, "customer")
      val world = cust.agg(
        floor(lit(1000.0) * sqrt(count(lit(1)).cast("double") / lit(1500.0)))
          .cast("long").as("__m"))
      val pts = cust.crossJoin(broadcast(world)).select(
        col("c_custkey").as("id"),
        (col("c_custkey") * 7919 % col("__m")).as("x"),
        (col("c_custkey") * 104729 % col("__m")).as("y"))
      val withCell = pts
        .withColumn("cx", expr("x div 100"))
        .withColumn("cy", expr("y div 100"))
      val offsets = for { dx <- -1 to 1; dy <- -1 to 1 }
        yield struct(lit(dx).cast("long").as("dx"), lit(dy).cast("long").as("dy"))
      val probe = withCell
        .withColumn("off", explode(array(offsets: _*)))
        .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
          (col("cx") + col("off.dx")).as("cx"), (col("cy") + col("off.dy")).as("cy"))
      val build = withCell.select(col("id").as("id_b"),
        col("x").as("xb"), col("y").as("yb"), col("cx"), col("cy"))
      probe.join(build, Seq("cx", "cy"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("dist2",
          (col("xa") - col("xb")) * (col("xa") - col("xb")) +
            (col("ya") - col("yb")) * (col("ya") - col("yb")))
        .filter(col("dist2") <= 900)
        .select(col("id_a"), col("id_b"), col("dist2"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "q_join_inner" -> ((s: SparkSession, d: String) => {
      val o = scan(s, d, "orders")
      val c = scan(s, d, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .select(col("o_orderkey"), col("c_custkey"), col("c_name"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "q_join_left" -> ((s: SparkSession, d: String) => {
      val c = scan(s, d, "customer")
      val bigOrders = scan(s, d, "orders").filter(col("o_totalprice") > 50000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_outer")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    }),

    // full outer with BOTH dangling sides non-empty: customers under 800
    // without a big order (right nulls) + big orders of custkey ≥ 800
    // (left nulls)
    "q_join_full" -> ((s: SparkSession, d: String) => {
      val c = scan(s, d, "customer").filter(col("c_custkey") < 800)
      val bigOrders = scan(s, d, "orders").filter(col("o_totalprice") > 150000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
    }),

    // cross join (tiny dims — the only place a cross product is sane)
    "q_join_cross" -> ((s: SparkSession, d: String) => {
      val r = scan(s, d, "region").select(col("r_regionkey"), col("r_name"))
      val n = scan(s, d, "nation").select(col("n_nationkey"), col("n_name"))
      r.crossJoin(n)
        .select(col("r_regionkey"), col("n_nationkey"),
          concat(col("r_name"), lit("/"), col("n_name")).as("pair"))
        .orderBy(col("r_regionkey"), col("n_nationkey"))
    }),

    // null-safe equality (<=> / IS NOT DISTINCT FROM): nation 3 nulled on
    // both sides, so the null block matches null — the semantics a plain
    // equi-join silently drops
    "q_join_nullsafe" -> ((s: SparkSession, d: String) => {
      val c = scan(s, d, "customer")
        .select(col("c_custkey"), nullif(col("c_nationkey").cast("int"), lit(3)).as("cnk"))
      val sup = scan(s, d, "supplier")
        .select(col("s_suppkey"), nullif(col("s_nationkey").cast("int"), lit(3)).as("snk"))
      c.join(sup, c("cnk") <=> sup("snk"))
        .select(col("c_custkey"), col("s_suppkey"), col("cnk"))
        .orderBy(col("c_custkey"), col("s_suppkey"))
    }),

    "q_join_semi" -> ((s: SparkSession, d: String) => {
      val c = scan(s, d, "customer")
      val bigOrders = scan(s, d, "orders").filter(col("o_totalprice") > 100000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    "q_join_anti" -> ((s: SparkSession, d: String) => {
      val c = scan(s, d, "customer")
      val bigOrders = scan(s, d, "orders").filter(col("o_totalprice") > 100000)
      c.join(bigOrders, c("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // TPC-H Q5-shaped star join: fact table joins broadcast dims, then
    // aggregates. nation/region/supplier are broadcast → no fact shuffle
    // until the final group-by.
    "q_join_star" -> ((s: SparkSession, d: String) => {
      val li = scan(s, d, "lineitem")
      val sup = broadcast(scan(s, d, "supplier"))
      val nat = broadcast(scan(s, d, "nation"))
      val reg = broadcast(scan(s, d, "region"))
      li.join(sup, li("l_suppkey") === sup("s_suppkey"))
        .join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          ExactAgg.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items")
        )
        .orderBy(col("r_name"), col("n_name"))
    }),

    // Range join via binning (see Joins.rangeJoin): customers whose
    // balance falls in a nation-derived band.
    "q_join_range" -> ((s: SparkSession, d: String) => {
      val c = scan(s, d, "customer")
      val bands = scan(s, d, "nation")
        .select(col("n_nationkey"),
          (col("n_nationkey") * 400.0).as("lo"),
          (col("n_nationkey") * 400.0 + 399.0).as("hi"))
      Joins.rangeJoin(c, "c_acctbal", bands, "lo", "hi", binWidth = 250.0)
        .select(col("c_custkey"), col("n_nationkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"), col("n_nationkey"))
    }),

    // DYNAMIC PARTITION PRUNING — the other half of the 100 TB layout
    // story next to q_join_bucketed: the fact table is WRITTEN
    // partitioned by year, the dimension (top-3 revenue years) exists
    // only at RUNTIME, and Spark's DPP turns the broadcast dim into a
    // partition filter on the fact scan — only 3 of 7 year directories
    // are ever read (PlanQualitySpec asserts dynamicpruningexpression
    // in the scan's PartitionFilters). A static filter cannot express
    // this: the qualifying years are an aggregate's output
    "q_join_dpp" -> ((s: SparkSession, d: String) => {
      val dir = graft.streaming.StreamOps.landing(s, d, "q_join_dpp").path
      scan(s, d, "orders")
        .withColumn("o_year", year(col("o_orderdate")))
        .write.mode("overwrite").partitionBy("o_year").parquet(dir)
      val fact = s.read.parquet(dir)
      import org.apache.spark.sql.expressions.Window
      val dim = scan(s, d, "lineitem")
        .groupBy(year(col("l_shipdate")).as("y"))
        .agg(sum(expr("CAST(floor(l_extendedprice * 100) AS BIGINT)"))
          .as("li_cents"))
        .withColumn("r", row_number().over( // 7 year rows — tiny
          Window.orderBy(col("li_cents").desc, col("y"))))
        .filter(col("r") <= 3).drop("r")
      fact.join(broadcast(dim), fact("o_year") === dim("y"))
        .groupBy(col("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy(col("o_year"))
    }),

    // BUCKETED (shuffle-free) SORT-MERGE JOIN — Spark's native
    // `bucketBy` table layout, the canonical 100 TB co-location
    // technique this tier talks about everywhere else: both sides
    // written as 8 hash-buckets of the join key (+ sorted within
    // bucket), so the join reads bucket i against bucket i with NO
    // Exchange and NO sort on either side (asserted in
    // PlanQualitySpec). The write is the setup cost a warehouse pays
    // once; every subsequent join on that key rides for free
    "q_join_bucketed" -> ((s: SparkSession, d: String) => {
      import org.apache.hadoop.fs.Path
      val suffix = Integer.toHexString(d.hashCode)
      val ot = s"graft_bkt_orders_$suffix"
      val ct = s"graft_bkt_customer_$suffix"
      val wh = s.conf.get("spark.sql.warehouse.dir")
      for (t <- Seq(ot, ct)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        val p = new Path(wh, t)
        p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      }
      scan(s, d, "orders").select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"))
        .write.format("parquet").bucketBy(8, "o_custkey")
        .sortBy("o_custkey").saveAsTable(ot)
      scan(s, d, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .write.format("parquet").bucketBy(8, "c_custkey")
        .sortBy("c_custkey").saveAsTable(ct)
      val o = s.table(ot)
      val c = s.table(ct)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(expr("CAST(floor(o_totalprice * 100) AS BIGINT)")).as("cents"))
        .orderBy(col("c_mktsegment"))
    }),

    // Bloom-prefiltered semi-join (see Joins.bloomPrefilteredSemiJoin):
    // orders of BUILDING-segment customers; the bloom drops non-matching
    // orders pre-shuffle, the exact semi-join removes false positives —
    // so the result equals the plain semi-join and the oracle is exact
    "q_join_bloom" -> ((s: SparkSession, d: String) => {
      val dim = scan(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val fact = scan(s, d, "orders")
      Joins.bloomPrefilteredSemiJoin(fact, "o_custkey", dim, "c_custkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), ExactAgg.dsum(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // As-of join via single-shuffle union+window (see Joins.asofBackward):
    // each event picks up the customer's latest order at-or-before ts.
    "q_join_asof" -> ((s: SparkSession, d: String) => {
      val e = scan(s, d, "events").select("event_id", "user_id", "ts")
      val o = scan(s, d, "orders")
      Joins.asofBackward(
        e, o,
        leftKey = "user_id", rightKey = "o_custkey",
        leftTime = "ts", rightTime = "o_orderdate",
        rightPayload = Seq("o_orderkey", "o_totalprice"),
        tiebreak = "o_orderkey"
      ).orderBy(col("event_id"))
    }),

    // Interval-OVERLAP join (Joins.intervalJoin — interval×interval,
    // not point-in-range like q_join_range): order fulfillment windows
    // [orderdate, orderdate + 5..24 days] against 25 two-week promo
    // windows. Both sides bin at 16 days and equi-join on the bin; the
    // left-edge-bin residual keeps each overlapping pair exactly once
    // (no distinct). At 100 TB the fact side duplicates to ≤2 bin
    // copies and the join shuffles on the bin key; here the 25-window
    // side broadcasts and the fact never shuffles at all
    "q_join_interval" -> ((s: SparkSession, d: String) => {
      val day0 = lit("1992-01-01").cast("date")
      val li = scan(s, d, "orders").select(
        col("o_totalprice"),
        datediff(col("o_orderdate").cast("date"), day0).cast("long").as("ls"))
        .withColumn("lr",
          col("ls") + floor(col("o_totalprice")).cast("long") % 20L + 5L)
      val w = scan(s, d, "nation").select(
        col("n_nationkey").as("w_id"),
        (datediff(lit("1996-01-01").cast("date"), day0).cast("long")
          + col("n_nationkey") * 10L).as("w_lo"))
        .withColumn("w_hi", col("w_lo") + lit(13L))
      Joins.intervalJoin(li, "ls", "lr", w, "w_lo", "w_hi", binWidth = 16L)
        .groupBy(col("w_id"))
        .agg(count(lit(1)).as("n_pairs"),
          ExactAgg.dsum(col("o_totalprice")).as("total_price"))
        .orderBy(col("w_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // world size mirrors the engine: M = floor(1000·sqrt(N/1500)) —
    // 1000 exactly at sf0.01
    "q_geo_join" ->
      """WITH m AS (SELECT CAST(floor(1000.0 * sqrt(COUNT(*) / 1500.0)) AS BIGINT) AS m
        |           FROM customer),
        |p AS (SELECT c_custkey AS id, (c_custkey * 7919) % m.m AS x,
        |             (c_custkey * 104729) % m.m AS y FROM customer CROSS JOIN m),
        |c AS (SELECT *, x // 100 AS cx, y // 100 AS cy FROM p),
        |o AS (SELECT a.dx, b.dy
        |      FROM (SELECT unnest(range(-1, 2)) AS dx) a,
        |           (SELECT unnest(range(-1, 2)) AS dy) b),
        |probe AS (SELECT id AS id_a, x AS xa, y AS ya, cx + dx AS cx, cy + dy AS cy
        |          FROM c CROSS JOIN o),
        |j AS (SELECT pr.id_a, b.id AS id_b,
        |        (pr.xa - b.x) * (pr.xa - b.x) + (pr.ya - b.y) * (pr.ya - b.y) AS dist2
        |      FROM probe pr JOIN c b ON pr.cx = b.cx AND pr.cy = b.cy
        |      WHERE pr.id_a < b.id)
        |SELECT id_a, id_b, CAST(dist2 AS BIGINT) AS dist2
        |FROM j WHERE dist2 <= 900 ORDER BY id_a, id_b""".stripMargin,

    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 50000) o
        |  ON c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q_join_full" ->
      """SELECT c_custkey, o_orderkey, o_totalprice
        |FROM (SELECT * FROM customer WHERE c_custkey < 800) c
        |FULL OUTER JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin,
    "q_join_cross" ->
      """SELECT r_regionkey, n_nationkey, r_name || '/' || n_name AS pair
        |FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,
    "q_join_nullsafe" ->
      """SELECT c_custkey, s_suppkey, cnk
        |FROM (SELECT c_custkey, nullif(CAST(c_nationkey AS INT), 3) AS cnk FROM customer) c
        |JOIN (SELECT s_suppkey, nullif(CAST(s_nationkey AS INT), 3) AS snk FROM supplier) s
        |  ON c.cnk IS NOT DISTINCT FROM s.snk
        |ORDER BY c_custkey, s_suppkey""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 100000)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_star" ->
      s"""SELECT r_name, n_name,
         |       ${ExactAgg.sqlDsum("l_extendedprice * (1 - l_discount)")} AS revenue,
         |       COUNT(*) AS n_items
         |FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name
         |ORDER BY r_name, n_name""".stripMargin,
    "q_join_range" ->
      """SELECT c_custkey, n_nationkey, c_acctbal
        |FROM customer JOIN nation
        |  ON c_acctbal >= n_nationkey * 400.0 AND c_acctbal <= n_nationkey * 400.0 + 399.0
        |ORDER BY c_custkey, n_nationkey""".stripMargin,
    "q_join_dpp" ->
      """WITH dim AS (
        |  SELECT y FROM (
        |    SELECT CAST(year(l_shipdate) AS BIGINT) AS y,
        |      SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS li_cents,
        |      ROW_NUMBER() OVER (
        |        ORDER BY SUM(CAST(floor(l_extendedprice * 100) AS BIGINT)) DESC,
        |          CAST(year(l_shipdate) AS BIGINT)) AS r
        |    FROM lineitem GROUP BY 1)
        |  WHERE r <= 3)
        |SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders JOIN dim ON CAST(year(o_orderdate) AS BIGINT) = dim.y
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_join_bucketed" ->
      """SELECT c_mktsegment,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_join_bloom" ->
      s"""SELECT o_orderpriority, COUNT(*) AS n, ${ExactAgg.sqlDsum("o_totalprice")} AS total
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM customer
         |              WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
         |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_asof" ->
      """WITH r AS (
        |  SELECT o_custkey, o_orderdate,
        |         max_by(o_orderkey, o_orderkey) AS o_orderkey,
        |         max_by(o_totalprice, o_orderkey) AS o_totalprice
        |  FROM orders GROUP BY o_custkey, o_orderdate
        |)
        |SELECT e.event_id, e.user_id, e.ts, r.o_orderkey, r.o_totalprice
        |FROM events e ASOF JOIN r
        |  ON e.user_id = r.o_custkey AND e.ts >= r.o_orderdate
        |ORDER BY e.event_id""".stripMargin,
    "q_join_interval" ->
      s"""WITH li AS (SELECT o_totalprice,
         |    datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS ls
         |  FROM orders),
         |li2 AS (SELECT o_totalprice, ls,
         |    ls + CAST(floor(o_totalprice) AS BIGINT) % 20 + 5 AS lr FROM li),
         |w AS (SELECT n_nationkey AS w_id,
         |    datediff('day', DATE '1992-01-01', DATE '1996-01-01')
         |      + n_nationkey * 10 AS w_lo
         |  FROM nation),
         |w2 AS (SELECT w_id, w_lo, w_lo + 13 AS w_hi FROM w)
         |SELECT w_id, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  ${ExactAgg.sqlDsum("o_totalprice")} AS total_price
         |FROM li2 JOIN w2 ON ls <= w_hi AND w_lo <= lr
         |GROUP BY w_id ORDER BY w_id""".stripMargin
  )
}
