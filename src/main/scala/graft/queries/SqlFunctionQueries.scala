package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.ops.ExactAgg._

/** SQL passthrough (SURVEY §2.1 S9 — the headline win of the port: the
  * reference forwards opaque query strings per dialect, here it's real
  * Catalyst SQL over registered views) and the §2.6 scalar-function tier
  * the reference lacks entirely: JSON, date arithmetic, math, arrays,
  * maps, conditionals.
  */
object SqlFunctionQueries {

  /** Register the testdata tables as temp views (idempotent). */
  private def registerViews(s: SparkSession, d: String, tables: Seq[String]): Unit =
    tables.foreach(t => scan(s, d, t).createOrReplaceTempView(t))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S9: the user hands us SQL; we run it — on Spark, not a passthrough
    "q_sql_passthrough" -> ((s: SparkSession, d: String) => {
      registerViews(s, d, Seq("orders", "customer"))
      s.sql(
        """SELECT c_mktsegment,
          |       COUNT(*) AS n_orders,
          |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
          |FROM orders JOIN customer ON o_custkey = c_custkey
          |WHERE o_orderstatus <> 'F'
          |GROUP BY c_mktsegment
          |ORDER BY c_mktsegment""".stripMargin)
    }),

    // JSON extraction from the events props column
    "q_json_extract" -> ((s: SparkSession, d: String) => {
      scan(s, d, "events")
        .select(
          col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k_num"),
          json_tuple(col("props"), "k").as("k_str"),
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k").as("k_typed")
        )
        .orderBy(col("event_id"))
    }),

    // date/time arithmetic (reference has NO date functions — §2.6)
    "q_date_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders")
        .select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"),
          dayofmonth(col("o_orderdate")).as("dom"),
          date_format(col("o_orderdate"), "yyyy-MM").as("ym"),
          datediff(to_date(lit("1998-12-31")), to_date(col("o_orderdate"))).cast("long").as("days_to_end"),
          unix_timestamp(col("o_orderdate")).as("epoch_s")
        )
        .orderBy(col("o_orderkey"))
    }),

    // interval arithmetic tier: day/month adds (with Spark/DuckDB's
    // shared end-of-month clamping), last_day, month truncation
    // BUSINESS-DAY arithmetic (NETWORKDAYS): order→ship fulfillment
    // lag in WEEKDAYS, the SLA number ops teams actually track. The
    // weekday count below an index is the closed form
    // f(di) = (di div 7)·5 + min(di mod 7, 5) with di = days since a
    // MONDAY epoch (1992-01-06, pre-data, the repo's portable-date
    // epoch) — bdays in [order, ship) = f(ship) − f(order), all
    // integer, no calendar UDF, no per-day explode. One hash join on
    // orderkey + a combinable census
    "q_date_bdays" -> ((s: SparkSession, d: String) => {
      def wdBelow(c: org.apache.spark.sql.Column) = {
        val di = datediff(c.cast("date"), lit("1992-01-06").cast("date")).cast("long")
        graft.ops.Selection.idiv(di, 7) * 5 + least(pmod(di, lit(7)), lit(5L))
      }
      val li = scan(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"),
          wdBelow(col("l_shipdate")).as("fs"))
      val o = scan(s, d, "orders")
        .select(col("o_orderkey"), wdBelow(col("o_orderdate")).as("fo"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .withColumn("bd", col("fs") - col("fo"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("bd")).as("sum_bdays"),
          min(col("bd")).as("min_bdays"), max(col("bd")).as("max_bdays"))
        .withColumn("avg_milli", expr("sum_bdays * 1000 div n"))
        .orderBy(col("l_returnflag"))
    }),

    "q_date_arith" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders")
        .select(
          col("o_orderkey"),
          date_add(col("o_orderdate").cast("date"), 45).as("plus_45d"),
          add_months(col("o_orderdate").cast("date"), 2).as("plus_2mo"),
          last_day(col("o_orderdate")).as("month_end"),
          date_trunc("month", col("o_orderdate")).as("month_start"),
          quarter(col("o_orderdate")).cast("int").as("qtr"),
          dayofweek(col("o_orderdate")).cast("int").as("dow"))
        .orderBy(col("o_orderkey"))
    }),

    // math/conditional scalar tier
    "q_math_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "lineitem")
        .select(
          col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
          // round() on raw doubles diverges across engines (Spark rounds
          // the shortest string repr, DuckDB the exact binary) — round on
          // an exact decimal instead, then surface as double
          round(col("l_extendedprice").cast("decimal(18,2)"), 1).cast("double").as("price_r1"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_extendedprice")).as("price_ceil"),
          abs(col("l_quantity") - 25).as("qty_dev"),
          (col("l_discount") * col("l_discount")).as("disc_sq"), // pow() is libm-dependent

          greatest(col("l_quantity"), col("l_discount") * 100).as("g"),
          when(col("l_quantity") > 25, "H").when(col("l_quantity") > 10, "M").otherwise("L").as("qty_band")
        )
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("disc_sq"))
    }),

    // null-handling tier: nullif/coalesce/nvl2-style branches (the
    // testdata is null-free, so nulls are manufactured with nullif)
    "q_null_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders")
        .select(
          col("o_orderkey"),
          nullif(col("o_orderstatus"), lit("F")).as("status_nf"),
          coalesce(nullif(col("o_orderstatus"), lit("F")), lit("CLOSED")).as("status_c"),
          when(nullif(col("o_orderstatus"), lit("F")).isNull, col("o_totalprice"))
            .otherwise(lit(0.0)).as("closed_price"),
          isnull(nullif(col("o_orderstatus"), lit("F"))).as("is_closed"))
        .orderBy(col("o_orderkey"))
    }),

    // map-typed column: construction + lookup
    "q_map_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "region")
        .select(
          col("r_regionkey"),
          map(lit("name"), col("r_name"), lit("key"), col("r_regionkey").cast("string")).as("m"))
        .select(
          col("r_regionkey"),
          element_at(col("m"), "name").as("m_name"),
          element_at(col("m"), "missing").as("m_missing"),
          size(col("m")).as("m_size"))
        .orderBy(col("r_regionkey"))
    }),

    // string-function battery (pad/reverse/levenshtein/repeat/position)
    "q_string_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "customer")
        .select(
          col("c_custkey"),
          lpad(col("c_name"), 25, "*").as("padded_l"),
          rpad(col("c_mktsegment"), 12, ".").as("padded_r"),
          reverse(col("c_name")).as("rev"),
          levenshtein(col("c_mktsegment"), lit("MACHINERY")).as("lev"),
          repeat(lit("ab"), 3).as("rep"),
          instr(col("c_name"), "0").cast("long").as("pos0"),
          length(col("c_name")).cast("long").as("len"))
        .orderBy(col("c_custkey"))
    }),

    // regex-extract-all + structured string surgery (the §2.6 tail:
    // split_part, translate, ascii); matches serialized via array_join
    "q_string_regex" -> ((s: SparkSession, d: String) => {
      scan(s, d, "part")
        .select(
          col("p_partkey"),
          array_join(regexp_extract_all(col("p_name"), lit("[a-z]+"), lit(0)), "|").as("words"),
          split_part(col("p_type"), lit(" "), lit(1)).as("type_head"),
          translate(col("p_brand"), "#", "-").as("brand_dashed"),
          ascii(substring(col("p_name"), 1, 1)).cast("long").as("first_ascii"))
        .orderBy(col("p_partkey"))
    }),

    // array + map constructors and higher-order functions
    // array columns are string-serialized (array_join) in the FINAL
    // projection only — the driver's pandas compare can't sort ndarray
    // cells; the list ops themselves run on real arrays
    "q_array_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "documents")
        .select(
          col("doc_id"),
          size(split(trim(col("text")), "\\s+")).as("n_words"),
          array_join(slice(split(trim(col("text")), "\\s+"), 1, 5), "|").as("first5"),
          // sorted: DuckDB's list_distinct does not preserve order
          array_join(sort_array(array_distinct(slice(split(trim(col("text")), "\\s+"), 1, 10))), "|").as("d10"),
          aggregate(transform(slice(split(trim(col("text")), "\\s+"), 1, 10), w => length(w)),
            lit(0), (acc, x) => acc + x).as("len10"),
          array_join(sort_array(array_distinct(slice(split(trim(col("text")), "\\s+"), 1, 6))), "|").as("sorted6")
        )
        .orderBy(col("doc_id"))
    }),

    // native Catalyst expression (codegen) — same JS semantics as the
    // regexp composition in q_t_tonumber, via the SQL-registered function
    "q_expr_tonumber" -> ((s: SparkSession, d: String) => {
      scan(s, d, "customer")
        .withColumn("bal_str", col("c_acctbal").cast("string"))
        .select(col("c_custkey"),
          graft.functions.GraftExtensions.js_to_number(col("bal_str")).as("bal_num"),
          graft.functions.GraftExtensions.js_to_number(col("c_mktsegment")).as("seg_num"))
        .orderBy(col("c_custkey"))
    }),

    // approximate distinct-count sketch, made oracle-green: the HLL++
    // estimate itself is un-hashable (HLL++ ≠ DuckDB's sketch), so the
    // query emits the EXACT distinct count plus a Spark-computed
    // within_tolerance check of the sketch against it (5×rsd, the same
    // bound SketchSpec pins) — both deterministic, oracle = exact count
    // + literal true
    "q_agg_approx_distinct" -> ((s: SparkSession, d: String) => {
      scan(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * lit(5 * 0.02)).as("within_tolerance"))
        .orderBy(col("l_returnflag"))
    }),

    // KMV distinct sketch (functions/KmvDistinct.scala, a native
    // TypedImperativeAggregate) — the DETERMINISTIC mergeable sketch:
    // unlike HLL++ above (oracle-checkable only through a tolerance
    // boolean), KMV is a pure function of the input's distinct set with
    // integer-only estimate arithmetic, so DuckDB replays the k smallest
    // 60-bit hashes per group and hash-matches the ESTIMATE itself
    "q_agg_kmv" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders")
        .withColumn("hv", graft.ops.Dedup.hex60(
          md5(concat(lit("kmv:"), col("o_custkey").cast("string")).cast("binary"))))
        .groupBy(col("o_orderpriority"))
        .agg(call_function("graft_kmv_distinct", col("hv"), lit(32)).as("kmv_estimate"),
          countDistinct(col("o_custkey")).as("exact_distinct"))
        .select(col("o_orderpriority"), col("kmv_estimate"), col("exact_distinct"),
          floor(abs(col("kmv_estimate") - col("exact_distinct")) * lit(1000000L)
            / col("exact_distinct")).as("err_ppm"))
        .orderBy(col("o_orderpriority"))
    }),

    // GROUPED TWO-PHASE KMV — the deployment cell q_agg_kmv stops short
    // of: per-(group, shard) partial sketches (the per-input-split
    // partials a 1000-executor scan emits) merged per group via
    // graft_kmv_merge, the estimate read off the merged BINARY state.
    // Set-union-keep-k-smallest is commutative/associative/idempotent,
    // so the merged sketch equals the one-shot sketch EXACTLY under any
    // sharding — the oracle replays the same k-th-smallest-hash integer
    // arithmetic bit-exactly (k=64 here vs the one-shot cell's 32, so
    // the matrix also probes a second accuracy point)
    "q_agg_kmv_grouped" -> ((s: SparkSession, d: String) => {
      val hashed = scan(s, d, "orders")
        .withColumn("hv", graft.ops.Dedup.hex60(
          md5(concat(lit("kmv:"), col("o_custkey").cast("string")).cast("binary"))))
      val exact = scan(s, d, "orders").groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("exact_distinct"))
      hashed
        .groupBy(col("o_orderpriority"), pmod(col("o_orderkey"), lit(8)).as("shard"))
        .agg(call_function("graft_kmv_sketch", col("hv"), lit(64)).as("sk"))
        .groupBy(col("o_orderpriority"))
        .agg(call_function("graft_kmv_merge", col("sk")).as("sk"))
        .withColumn("kmv_estimate", call_function("graft_kmv_estimate", col("sk")))
        .join(exact, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("kmv_estimate"), col("exact_distinct"),
          floor(abs(col("kmv_estimate") - col("exact_distinct")) * lit(1000000L)
            / col("exact_distinct")).as("err_ppm"))
        .orderBy(col("o_orderpriority"))
    }),

    // KMV/THETA-SKETCH SET OPERATIONS (Dasgupta 2016's theta-sketch
    // framework): audience-overlap estimation — |view ∪ purchase|,
    // |view ∩ purchase|, Jaccard — from two k-smallest-hash sketches,
    // never the full sets. The 100 TB story: each side's sketch is a
    // k-row summary (mergeable, partial-aggregable), so overlap across
    // N segment pairs costs N·k rows, not a distinct-join per pair;
    // here the exact sides ride along to self-grade the estimate.
    // theta = min(theta_A, theta_B); every retained hash < theta is a
    // uniform sample of the union at rate theta/2^60, so
    // est = count·2^60 div theta — DETERMINISTIC integer arithmetic
    // (the 21-digit product runs in DECIMAL(38,0)/HUGEINT on the two
    // engines), hash-matched, not tolerance-matched
    "q_agg_kmv_setops" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val k = 64
      val M = 1152921504606846976L // 2^60
      val e = scan(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("event_type").as("t"), col("user_id"))
        .distinct()
        .withColumn("hv", graft.ops.Dedup.hex60(
          md5(concat(lit("ovl:"), col("user_id").cast("string")).cast("binary"))))
      val exact = e.groupBy(col("user_id"))
        .agg(countDistinct(col("t")).as("nt"))
        .agg(count(lit(1)).as("union_exact"),
          sum(when(col("nt") === 2, 1L).otherwise(0L)).as("inter_exact"))
      val w = Window.partitionBy(col("t")).orderBy(col("hv"))
      val ranked = e.withColumn("rn", row_number().over(w))
      val theta = ranked.groupBy(col("t"))
        .agg(max(when(col("rn") === k, col("hv"))).as("th_k"),
          count(lit(1)).as("n"))
        .select(when(col("n") < k, lit(M)).otherwise(col("th_k")).as("th"))
        .agg(min(col("th")).as("theta"))
      val counts = ranked.filter(col("rn") <= k)
        .crossJoin(broadcast(theta))
        .filter(col("hv") < col("theta"))
        .groupBy(col("hv"), col("theta"))
        .agg(countDistinct(col("t")).as("nt"))
        .groupBy(col("theta"))
        .agg(count(lit(1)).as("count_u"),
          sum(when(col("nt") === 2, 1L).otherwise(0L)).as("count_i"))
      counts.crossJoin(broadcast(exact))
        .select(
          expr(s"CAST(CAST(count_u AS DECIMAL(38,0)) * $M div theta AS BIGINT)")
            .as("union_est"),
          col("union_exact").cast("long").as("union_exact"),
          expr(s"CAST(CAST(count_i AS DECIMAL(38,0)) * $M div theta AS BIGINT)")
            .as("inter_est"),
          col("inter_exact").cast("long").as("inter_exact"),
          expr("count_i * 1000000 div greatest(count_u, 1)").as("jaccard_est_ppm"),
          expr("inter_exact * 1000000 div union_exact").as("jaccard_exact_ppm"))
        .withColumn("union_err_ppm",
          expr("abs(union_est - union_exact) * 1000000 div union_exact"))
    }),

    // approximate-percentile sketch, oracle-green the same way: the
    // KLL-style estimate is an actual data element whose exact RANK we
    // can bound — count(< ap)/n must not exceed 0.5+eps and
    // count(<= ap)/n must reach 0.5-eps (two-sided so ties in the
    // discrete quantity column can't fail a correct answer). The bound
    // holds for ANY merge order of the sketch, so the boolean is
    // deterministic even where the raw estimate isn't. Oracle = exact
    // interpolated median + literal true
    "q_agg_approx_pct" -> ((s: SparkSession, d: String) => {
      val li = scan(s, d, "lineitem")
      val ap = li.groupBy(col("l_returnflag"))
        .agg(percentile(col("l_quantity"), lit(0.5)).as("exact_median"),
          expr("approx_percentile(l_quantity, 0.5, 100)").as("__ap"),
          count(lit(1)).as("__n"))
      li.join(broadcast(ap), Seq("l_returnflag"))
        .groupBy(col("l_returnflag"), col("exact_median"), col("__ap"), col("__n"))
        .agg(sum(when(col("l_quantity") < col("__ap"), 1L).otherwise(0L)).as("__lt"),
          sum(when(col("l_quantity") <= col("__ap"), 1L).otherwise(0L)).as("__le"))
        .select(col("l_returnflag"), col("exact_median"),
          (col("__lt").cast("double") / col("__n").cast("double") <= lit(0.52) &&
            col("__le").cast("double") / col("__n").cast("double") >= lit(0.48))
            .as("within_tolerance"))
        .orderBy(col("l_returnflag"))
    }),

    // KLL mergeable quantile sketch (functions/Kll.scala, the
    // TypedImperativeAggregate family's third member after KmvDistinct)
    // — the bounded-state percentile answer at 100 TB: per-partition
    // state is O(k) weighted values, partials merge in any order, and
    // every estimate is an actual data element whose TRUE rank the
    // census side then checks against a ±1.5 % window (the
    // q_agg_approx_pct two-sided pattern — layout-invariant boolean,
    // KllSpec pins the envelope at <0.7 % observed for k=256). The
    // exact element at rank ⌈q·n⌉ rides the q_agg_ks two-level
    // distributed prefix spine (bucket census → per-priority bucket
    // prefix → within-bucket windows), so nothing data-sized crosses a
    // single-task window; every join against the census broadcasts the
    // 20-row quantile side
    "q_agg_kll" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val o = scan(s, d, "orders").select(col("o_orderpriority").as("pr"),
        floor(col("o_totalprice") * 100).cast("long").as("v"))
      val census = o.groupBy(col("pr"), col("v")).agg(count(lit(1)).as("c"))
        .withColumn("b", expr("v div 16384"))
      val bt = census.groupBy(col("pr"), col("b")).agg(sum(col("c")).as("sc"))
      val wb = Window.partitionBy(col("pr")).orderBy(col("b"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val bpre = bt.withColumn("p", coalesce(sum(col("sc")).over(wb), lit(0L)))
        .select(col("pr"), col("b"), col("p"))
      val wv = Window.partitionBy(col("pr"), col("b")).orderBy(col("v"))
      val cum = census.join(broadcast(bpre), Seq("pr", "b"))
        .withColumn("cum", col("p") + sum(col("c")).over(wv))
        .select(col("pr"), col("v"), col("c"), col("cum"))
      val n = census.groupBy(col("pr")).agg(sum(col("c")).as("n"))
      val qs = s.range(1).select(explode(array(lit(250000L), lit(500000L),
        lit(750000L), lit(875000L))).as("q_ppm"))
      val est = o.groupBy(col("pr"))
        .agg(call_function("graft_kll_sketch", col("v"), lit(256)).as("sk"))
        .crossJoin(broadcast(qs))
        .select(col("pr"), col("q_ppm"),
          call_function("graft_kll_quantile", col("sk"), col("q_ppm")).as("est"))
      val targets = n.crossJoin(broadcast(qs))
        .withColumn("target", expr("(q_ppm * n + 999999) div 1000000"))
        .select(col("pr"), col("q_ppm"), col("target"))
      val exact = cum.join(broadcast(targets), Seq("pr"))
        .where(col("cum") >= col("target"))
        .groupBy(col("pr"), col("q_ppm")).agg(min(col("v")).as("exact_v"))
      val estN = est.join(broadcast(n), Seq("pr"))
      val bounds = cum.as("cc").join(broadcast(estN.as("ee")),
          col("cc.pr") === col("ee.pr") && col("cc.v") === col("ee.est"))
        .select(col("ee.pr").as("pr"), col("q_ppm"),
          ((col("cum") - col("c")) * lit(1000000L) <=
            (col("q_ppm") + lit(15000L)) * col("n") &&
           col("cum") * lit(1000000L) >=
            (col("q_ppm") - lit(15000L)) * col("n")).as("within_bound"))
      exact.join(bounds, Seq("pr", "q_ppm"))
        .orderBy(col("pr"), col("q_ppm"))
    }),

    // GROUPED KLL — the production deployment shape the scalar sketch
    // stops short of: per-(lang, source) p50/p95 over document token
    // counts, TWO-PHASE — per-shard partial sketches (the per-input-
    // split partials a 1000-executor ingest emits) merged per group via
    // graft_kll_merge, exactly how per-micro-batch partials land in a
    // table and roll up later. The exact-rank side is census-direct (no
    // bucket spine: distinct token counts are bounded, so the census is
    // |groups| × |distinct counts| = metadata-scale, unlike q_agg_kll's
    // price domain where distinct values grow with data); grading is
    // the same ±1.5 % bounded-rank boolean on the estimate's TRUE rank
    // interval, layout-invariant by construction
    "q_agg_kll_grouped" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val docs = scan(s, d, "documents").select(col("lang"), col("source"),
        col("doc_id"), size(split(trim(col("text")), "\\s+")).cast("long").as("v"))
      val census = docs.groupBy(col("lang"), col("source"), col("v"))
        .agg(count(lit(1)).as("c"))
      val wv = Window.partitionBy(col("lang"), col("source")).orderBy(col("v"))
      val cum = census.withColumn("cum", sum(col("c")).over(wv))
      val n = census.groupBy(col("lang"), col("source")).agg(sum(col("c")).as("n"))
      val qs = s.range(1).select(explode(array(lit(500000L), lit(950000L))).as("q_ppm"))
      val est = docs.withColumn("shard", pmod(col("doc_id"), lit(8)))
        .groupBy(col("lang"), col("source"), col("shard"))
        .agg(call_function("graft_kll_sketch", col("v"), lit(256)).as("sk"))
        .groupBy(col("lang"), col("source"))
        .agg(call_function("graft_kll_merge", col("sk")).as("sk"))
        .crossJoin(broadcast(qs))
        .select(col("lang"), col("source"), col("q_ppm"),
          call_function("graft_kll_quantile", col("sk"), col("q_ppm")).as("est"))
      val targets = n.crossJoin(broadcast(qs))
        .withColumn("target", expr("(q_ppm * n + 999999) div 1000000"))
        .select(col("lang"), col("source"), col("q_ppm"), col("target"))
      val exact = cum.join(broadcast(targets), Seq("lang", "source"))
        .where(col("cum") >= col("target"))
        .groupBy(col("lang"), col("source"), col("q_ppm"))
        .agg(min(col("v")).as("exact_v"))
      val estN = est.join(broadcast(n), Seq("lang", "source"))
      val bounds = cum.as("cc").join(broadcast(estN.as("ee")),
          col("cc.lang") === col("ee.lang") &&
            col("cc.source") === col("ee.source") && col("cc.v") === col("ee.est"))
        .select(col("ee.lang").as("lang"), col("ee.source").as("source"),
          col("q_ppm"),
          ((col("cum") - col("c")) * lit(1000000L) <=
            (col("q_ppm") + lit(15000L)) * col("n") &&
           col("cum") * lit(1000000L) >=
            (col("q_ppm") - lit(15000L)) * col("n")).as("within_bound"))
      exact.join(bounds, Seq("lang", "source", "q_ppm"))
        .orderBy(col("lang"), col("source"), col("q_ppm"))
    }),

    // COUNT-MIN point-frequency sketch (Cormode & Muthukrishnan 2005) —
    // the overcount-only complement to Misra-Gries' undercount-only
    // summary, RELATIONALLY: the sketch is a d×w bucket-count TABLE
    // (see ops/FreqSketches.scala), so partial aggregation is the merge
    // and the oracle replays every cell from the portable hash.
    // never_undercounts is a theorem boolean; the overcount is replayed
    // exactly, not bounded probabilistically
    "q_agg_cms" -> ((s: SparkSession, d: String) => {
      val D = 3; val W = 64
      val toks = scan(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      val sk = graft.ops.FreqSketches.cmsSketch(toks, "w", D, W)
      val census = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val n = census.agg(sum(col("c")).as("n"))
      val top = census.orderBy(col("c").desc, col("w").asc).limit(10)
      graft.ops.FreqSketches.cmsEstimate(sk, top, "w", D, W)
        .join(top.withColumnRenamed("w", "x"), Seq("x"))
        .crossJoin(broadcast(n))
        .select(col("x").as("token"), col("c").as("exact_cnt"), col("cms_est"),
          (col("cms_est") >= col("c")).as("never_undercounts"),
          expr("(cms_est - c) * 1000000 div n").as("overcount_ppm"))
        .orderBy(col("token"))
    }),

    // the grouped CMS cell (the KLL/MG/KMV/HLL grouped shape): one d×w
    // bucket table PER LANGUAGE in a single groupBy pass — the group
    // key rides the sketch relation, the hash stays per (r, token),
    // per-lang top-5 estimated against per-lang cells
    "q_agg_cms_grouped" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      import graft.ops.FreqSketches
      val D = 3; val W = 64
      val toks = scan(s, d, "documents")
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      val sk = toks.select(col("lang"), col("w").as("x"),
          explode(sequence(lit(0L), lit(D - 1L))).as("r"))
        .select(col("lang"), col("r"),
          FreqSketches.cmsBucket(col("r"), col("x"), W).as("b"))
        .groupBy(col("lang"), col("r"), col("b"))
        .agg(count(lit(1)).as("sc"))
      val census = toks.groupBy(col("lang"), col("w"))
        .agg(count(lit(1)).as("c"))
      val n = census.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      val wr = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("w").asc)
      val top = census.withColumn("rk", row_number().over(wr))
        .where(col("rk") <= 5).drop("rk")
      val est = top.select(col("lang"), col("w"))
        .withColumn("r", explode(sequence(lit(0L), lit(D - 1L))))
        .withColumn("b", FreqSketches.cmsBucket(col("r"), col("w"), W))
        .join(sk, Seq("lang", "r", "b"), "left")
        .groupBy(col("lang"), col("w"))
        .agg(min(coalesce(col("sc"), lit(0L))).as("cms_est"))
      top.join(est, Seq("lang", "w")).join(broadcast(n), Seq("lang"))
        .select(col("lang"), col("w").as("token"), col("c").as("exact_cnt"),
          col("cms_est"),
          (col("cms_est") >= col("c")).as("never_undercounts"),
          expr("(cms_est - c) * 1000000 div n").as("overcount_ppm"))
        .orderBy(col("lang"), col("token"))
    }),

    // BLOOM-FILTER MEMBERSHIP sketch (Bloom 1970) — the "have we seen
    // this key" gate a 100 TB dedup/decontamination pass runs before
    // touching the full key set, RELATIONALLY: the filter is a 128-row
    // (word, bits) table (ops/FreqSketches.scala), bit_or is the merge.
    // Census: fill, the no-false-negatives THEOREM over every member,
    // and the exact false-positive count over 200 guaranteed
    // non-members (digits can't appear in [a-z]+ tokens) — the FPR is
    // replayed exactly, not bounded probabilistically
    "q_agg_bloom" -> ((s: SparkSession, d: String) => {
      import graft.ops.FreqSketches
      val K = 3; val M = 4096
      val toks = scan(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
        .select(col("w")).distinct()
      FreqSketches.bloomCensus(
        FreqSketches.bloomSketch(toks, "w", K, M), toks, "w", K, M)
    }),

    // the grouped Bloom cell (the CMS/HLL/KLL/MG/KMV grouped shape):
    // one 128-word filter PER LANGUAGE in a single groupBy pass — the
    // group key rides the word relation, the hash stays per (r, token),
    // and each language's census re-probes its own members plus the
    // same 200 guaranteed non-members
    "q_agg_bloom_grouped" -> ((s: SparkSession, d: String) => {
      import graft.ops.FreqSketches
      import graft.ops.CacheScope.ScopedPersist
      val K = 3; val M = 4096
      val toks = scan(s, d, "documents")
        .select(col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
        .select(col("lang"), col("w")).distinct().scopedPersist()
      val sk = toks
        .withColumn("r", explode(sequence(lit(0L), lit(K - 1L))))
        .withColumn("pos", FreqSketches.bloomPos(col("r"), col("w"), M))
        .select(col("lang"), expr("pos div 32").as("wd"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mk"))
        .groupBy(col("lang"), col("wd")).agg(expr("bit_or(mk)").as("bits"))
        .scopedPersist()
      def test(probes: org.apache.spark.sql.DataFrame) = probes
        .withColumn("r", explode(sequence(lit(0L), lit(K - 1L))))
        .withColumn("pos", FreqSketches.bloomPos(col("r"), col("p"), M))
        .select(col("lang"), col("p"), expr("pos div 32").as("wd"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").as("mk"))
        .join(sk, Seq("lang", "wd"), "left")
        .groupBy(col("lang"), col("p"))
        .agg(min(when(coalesce(col("bits"), lit(0L)).bitwiseAND(col("mk")) =!= 0L,
          1L).otherwise(0L)).as("hit"))
      val bits = sk.groupBy(col("lang"))
        .agg(sum(expr("bit_count(bits)")).cast("long").as("n_set_bits"))
      val mem = test(toks.select(col("lang"), col("w").as("p")))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_members"), min(col("hit")).as("all_hit"))
      val negs = toks.select(col("lang")).distinct()
        .crossJoin(s.range(200).select(concat(lit("zz"), col("id")).as("p")))
      val neg = test(negs).groupBy(col("lang"))
        .agg(sum(col("hit")).as("n_false_pos"))
      mem.join(bits, Seq("lang")).join(neg, Seq("lang"))
        .select(col("lang"), col("n_members"), col("n_set_bits"),
          expr("n_set_bits * 1000000 div 4096").as("fill_ppm"),
          (col("all_hit") === 1L).as("no_false_negatives"),
          lit(200L).as("n_neg_probes"), col("n_false_pos"),
          expr("n_false_pos * 1000000 div 200").as("fpr_ppm"))
        .orderBy(col("lang"))
    }),

    // AMS F2 / self-join-size sketch (Alon, Matias & Szegedy 1996) —
    // the skew detector: F2 = Σ c(x)^2 estimated as the median of d
    // signed-sum squares, each a one-pass partial-aggregable sum. The
    // exact side is the census a 100 TB job cannot afford; the sketch
    // is d BIGINTs
    "q_agg_ams" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val D = 5
      val toks = scan(s, d, "documents")
        .select(explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      val z = graft.ops.FreqSketches.amsSketch(toks, "w", D)
        .withColumn("zz", col("z") * col("z"))
      val med = z.withColumn("rn",
          row_number().over(Window.orderBy(col("zz")))) // d=5 rows: tiny
        .where(col("rn") === (D + 1) / 2).select(col("zz").as("f2_est"))
      val f2 = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
        .agg(sum(col("c") * col("c")).as("f2_exact"))
      f2.crossJoin(broadcast(med))
        .select(col("f2_exact"), col("f2_est"),
          expr("abs(f2_est - f2_exact) * 1000000 div f2_exact").as("err_ppm"))
    }),

    // AMS INNER-PRODUCT JOIN-SIZE ESTIMATION (the second half of the
    // AMS paper's program: E[z_A·z_B] = Σ_k f_A(k)·f_B(k) = the join
    // cardinality) — the cost-based-optimizer primitive that answers
    // "how big is this join" from two d-BIGINT sketches built in
    // independent single passes over each side, no join executed. Here:
    // |view-events ⋈ purchase-events on user_id|, real multiplicities
    // on BOTH sides. Same deterministic hash family as q_agg_ams, so
    // the estimate replays exactly; the exact side is the per-key
    // frequency join the estimator avoids
    "q_agg_join_card" -> ((s: SparkSession, d: String) => {
      import org.apache.spark.sql.expressions.Window
      val D = 5
      val ev = scan(s, d, "events")
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id").cast("string").as("x"))
      val zv = graft.ops.FreqSketches.amsSketch(side("view"), "x", D)
        .withColumnRenamed("z", "zv")
      val zp = graft.ops.FreqSketches.amsSketch(side("purchase"), "x", D)
        .withColumnRenamed("z", "zp")
      val med = zv.join(zp, Seq("r"))
        .withColumn("zz", col("zv") * col("zp"))
        .withColumn("rn", row_number().over(Window.orderBy(col("zz"), col("r"))))
        .where(col("rn") === (D + 1) / 2).select(col("zz").as("join_est"))
      val exact = side("view").groupBy(col("x")).agg(count(lit(1)).as("fv"))
        .join(side("purchase").groupBy(col("x")).agg(count(lit(1)).as("fp")), Seq("x"))
        .agg(sum(col("fv") * col("fp")).as("join_exact"))
      exact.crossJoin(broadcast(med))
        .select(col("join_exact"), col("join_est"),
          expr("abs(join_est - join_exact) * 1000000 div join_exact").as("err_ppm"))
    }),

    // HISTOGRAM JOIN-CARDINALITY ESTIMATION — the System-R/Selinger
    // classic beside q_agg_join_card's AMS sketch, on the SAME join
    // (view ⋈ purchase on user_id) so the two CBO primitives are
    // directly comparable: global estimate |A|·|B| ⁄ max(ndv_A, ndv_B)
    // and its equi-width refinement Σ_buckets na·nb ⁄ max(da, db) over
    // user_id div 64 buckets. Buckets PARTITION the key space, so
    // per-bucket exact NDVs sum to the global NDV — one count-distinct
    // groupBy per side is the whole build, the estimates are metadata-
    // sized arithmetic. Exact side = the per-key frequency join both
    // estimators exist to avoid
    "q_agg_histcard" -> ((s: SparkSession, d: String) => {
      val ev = scan(s, d, "events")
      def side(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"))
      def hist(df: DataFrame) = df
        .groupBy(expr("user_id div 64").as("bk"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("nd"))
      val ha = hist(side("view"))
        .select(col("bk"), col("n").as("na"), col("nd").as("da"))
      val hb = hist(side("purchase"))
        .select(col("bk"), col("n").as("nb"), col("nd").as("db"))
      val j = ha.join(hb, Seq("bk"))
      val binned = j.agg(
        sum(expr("na * nb div greatest(da, db)")).as("est_binned"),
        count(lit(1)).as("n_buckets"))
      val glob = ha.agg(sum(col("na")).as("ta"), sum(col("da")).as("nda"))
        .crossJoin(hb.agg(sum(col("nb")).as("tb"), sum(col("db")).as("ndb")))
        .select(expr("ta * tb div greatest(nda, ndb)").as("est_systemr"))
      val exact = side("view").groupBy(col("user_id"))
        .agg(count(lit(1)).as("fv"))
        .join(side("purchase").groupBy(col("user_id"))
          .agg(count(lit(1)).as("fp")), Seq("user_id"))
        .agg(sum(col("fv") * col("fp")).as("join_exact"))
      exact.crossJoin(broadcast(glob)).crossJoin(broadcast(binned))
        .select(col("join_exact"), col("est_systemr"),
          expr("abs(est_systemr - join_exact) * 1000000 div join_exact")
            .as("err_systemr_ppm"),
          col("est_binned"),
          expr("abs(est_binned - join_exact) * 1000000 div join_exact")
            .as("err_binned_ppm"),
          col("n_buckets"))
    }),

    // HYPERLOGLOG as a relational register table (ops/Hll.scala) — the
    // third corner of the distinct-count triangle (exact bitmap / KMV /
    // HLL): 64 (reg, max-rho) rows, max-groupBy IS the merge, estimate
    // = fixed-point harmonic mean with the linear-counting small-range
    // branch via the shared staged log. Replayed register-exact by the
    // oracle; err_ppm reported, not bounded
    "q_agg_hll" -> ((s: SparkSession, d: String) => {
      val ev = scan(s, d, "events")
      val est = graft.ops.Hll.estimate(graft.ops.Hll.registers(
        ev.select(col("user_id").cast("string").as("x")), "x"))
      val ex = ev.agg(countDistinct(col("user_id")).cast("long").as("n_exact"))
      ex.crossJoin(broadcast(est))
        .select(col("n_exact"), col("hll_est"), col("est_raw"), col("est_lin"),
          col("n_regs_zero"),
          expr("abs(hll_est - n_exact) * 1000000 div n_exact").as("err_ppm"))
    }),

    // the grouped deployment cell: one 64-register sketch per
    // event_type in a single max-groupBy pass, dense key×64 dimension,
    // the staged log once per group row — the KLL/MG/KMV grouped shape
    "q_agg_hll_grouped" -> ((s: SparkSession, d: String) => {
      val ev = scan(s, d, "events")
      val est = graft.ops.Hll.estimateBy(graft.ops.Hll.registersBy(
        ev.select(col("event_type").as("t"),
          col("user_id").cast("string").as("x")), Seq("t"), "x"), Seq("t"))
      val ex = ev.select(col("event_type").as("t"), col("user_id"))
        .groupBy(col("t"))
        .agg(countDistinct(col("user_id")).cast("long").as("n_exact"))
      ex.join(est, Seq("t"))
        .select(col("t"), col("n_exact"), col("hll_est"), col("est_raw"),
          col("est_lin"), col("n_regs_zero"),
          expr("abs(hll_est - n_exact) * 1000000 div n_exact").as("err_ppm"))
        .orderBy(col("t"))
    }),

    // RELATIONAL BITMAP INDEX (roaring-lite): EXACT distinct counting
    // and set algebra over a bounded integer domain as a (set, word,
    // bits) relation — 32 ids per BIGINT word, bit_or IS the merge
    // (partial aggregation = mergeable across partitions/batches, the
    // CMS/AMS story with exactness instead of error bounds). Distinct
    // = Σ bit_count(word); intersection/union never rescan events,
    // they are a word-keyed equi-join of two bitmap relations ~64x
    // smaller than the id sets. The audit columns count bitmap words
    // (8 bytes each) — the storage story vs a distinct-id shuffle
    "q_agg_bitmap" -> ((s: SparkSession, d: String) => {
      val ev = scan(s, d, "events")
        .filter(col("event_type").isin("view", "purchase"))
      graft.ops.BitmapIndex.census(
        graft.ops.BitmapIndex.bitmap(ev, "event_type", "user_id"))
    }),

    // DAY-OVER-DAY RETENTION over per-day bitmap indexes — the product
    // analytics the bitmap tier exists for: DAU = popcount of the
    // day's bitmap, retained = popcount(day AND next-day) via a
    // (day, word)-keyed equi-join of bitmap relations ~32x smaller
    // than the event stream — the classic "retention without
    // re-scanning events" layout (only days with a successor emit)
    "q_agg_retention" -> ((s: SparkSession, d: String) => {
      import graft.ops.CacheScope.ScopedPersist
      val ev = scan(s, d, "events")
        .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      graft.ops.BitmapIndex.retention(
        graft.ops.BitmapIndex.bitmap(ev, "day", "user_id").scopedPersist())
    }),

    // MISRA-GRIES frequent items (Misra & Gries 1982; merge rule from
    // Agarwal et al., Mergeable Summaries, PODS 2012) — the 100 TB
    // heavy-hitter answer next to KLL's percentile answer: O(k) state
    // per partition, one pass, BINARY partials merged later. The graded
    // booleans are THEOREMS (never overcounts; undercounts ≤ n/(k+1);
    // any item above n/(k+1) is present), so they are deterministic
    // under any partition layout / AQE re-plan — the KLL bounded-rank
    // pattern for frequencies. Exact side = the census a 100 TB job
    // cannot afford; k=8 over a ~31-word vocabulary forces constant
    // decrement/eviction pressure, the regime that distinguishes MG
    // from a plain hash map
    "q_agg_mg" -> ((s: SparkSession, d: String) => {
      val K = 8
      val toks = scan(s, d, "documents")
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      val census = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val n = census.agg(sum(col("c")).as("n"))
      val top = census.orderBy(col("c").desc, col("w").asc).limit(10)
      val sk = toks
        .groupBy(pmod(col("doc_id"), lit(8)).as("shard"))
        .agg(call_function("graft_mg_sketch", col("w"), lit(K)).as("sk"))
        .agg(call_function("graft_mg_merge", col("sk")).as("sk"))
      top.crossJoin(broadcast(n)).crossJoin(broadcast(sk))
        .withColumn("est", call_function("graft_mg_estimate", col("sk"), col("w")))
        .select(col("w").as("token"), col("c").as("exact_cnt"),
          (col("c") * lit(K + 1) > col("n")).as("guaranteed_heavy"),
          ((col("c") - col("est")) * lit(K + 1) <= col("n") &&
            col("est") <= col("c")).as("within_err"),
          (!(col("c") * lit(K + 1) > col("n")) || col("est") > 0).as("present_ok"))
        .orderBy(col("token"))
    }),

    // GROUPED MG — heavy-hitter tokens PER LANGUAGE, the per-group
    // deployment shape (per-language vocabulary monitors): one summary
    // per (lang, shard) partial, merged per lang, graded by the same
    // theorem booleans against each group's exact top-5. Mirrors
    // q_agg_kll_grouped's sketch-per-group contract
    "q_agg_mg_grouped" -> ((s: SparkSession, d: String) => {
      val K = 8
      val toks = scan(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .where(col("w").rlike("^[a-z]+$"))
      val census = toks.groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))
      val n = census.groupBy(col("lang")).agg(sum(col("c")).as("n"))
      import org.apache.spark.sql.expressions.Window
      val wr = Window.partitionBy(col("lang"))
        .orderBy(col("c").desc, col("w").asc)
      val top = census.withColumn("r", row_number().over(wr))
        .where(col("r") <= 5).drop("r")
      val sk = toks
        .groupBy(col("lang"), pmod(col("doc_id"), lit(8)).as("shard"))
        .agg(call_function("graft_mg_sketch", col("w"), lit(K)).as("sk"))
        .groupBy(col("lang"))
        .agg(call_function("graft_mg_merge", col("sk")).as("sk"))
      top.join(broadcast(n), Seq("lang")).join(broadcast(sk), Seq("lang"))
        .withColumn("est", call_function("graft_mg_estimate", col("sk"), col("w")))
        .select(col("lang"), col("w").as("token"), col("c").as("exact_cnt"),
          (col("c") * lit(K + 1) > col("n")).as("guaranteed_heavy"),
          ((col("c") - col("est")) * lit(K + 1) <= col("n") &&
            col("est") <= col("c")).as("within_err"),
          (!(col("c") * lit(K + 1) > col("n")) || col("est") > 0).as("present_ok"))
        .orderBy(col("lang"), col("token"))
    }),

    // bitwise tier: and/or/xor/shifts/popcount — the bit surgery layout
    // keys and bucket ids are built from
    "q_bitwise" -> ((s: SparkSession, d: String) => {
      scan(s, d, "orders")
        .select(
          col("o_orderkey"),
          col("o_orderkey").bitwiseAND(lit(255L)).as("and8"),
          col("o_orderkey").bitwiseOR(lit(4096L)).as("or12"),
          col("o_orderkey").bitwiseXOR(col("o_custkey")).as("xor_ck"),
          shiftleft(col("o_orderkey"), 3).as("shl3"),
          shiftright(col("o_orderkey"), 2).as("shr2"),
          bit_count(col("o_orderkey")).cast("int").as("nbits"))
        .orderBy(col("o_orderkey"))
    }),

    // higher-order array functions: filter / exists / transform+slice —
    // the lambda surface (q_array_funcs covers aggregate/distinct/sort)
    "q_array_hof" -> ((s: SparkSession, d: String) => {
      val ws = split(trim(col("text")), "\\s+")
      scan(s, d, "documents")
        .select(
          col("doc_id"),
          size(filter(ws, w => length(w) > 5)).as("n_long"),
          exists(ws, w => w === "spark").as("has_spark"),
          array_join(transform(slice(ws, 1, 3), w => upper(w)), "|").as("first3_upper"),
          aggregate(ws, lit(0L), (acc, w) => acc + length(w)).as("total_chars"))
        .orderBy(col("doc_id"))
    }),

    // cryptographic/content hash tier: md5 + sha256 (content addressing,
    // cache keys) + integer hex encoding — lowercased on both engines
    "q_hash_funcs" -> ((s: SparkSession, d: String) => {
      scan(s, d, "customer")
        .select(col("c_custkey"),
          md5(col("c_name").cast("binary")).as("h_md5"),
          sha2(col("c_name").cast("binary"), 256).as("h_sha256"),
          lower(hex(col("c_custkey"))).as("key_hex"))
        .orderBy(col("c_custkey"))
    }),

    // URL parsing/normalization — the web-corpus key-extraction step
    // (URLs synthesized from doc fields; parse_url does the dissection,
    // the registered-domain tail via the same regex both engines run)
    // URL CANONICALIZATION + dedup — the crawl-frontier step that
    // collapses trivially-different URLs before fetching: drop the
    // fragment, lowercase scheme+host, strip leading www., strip the
    // trailing path slash, remove utm_* tracking params. The canonical
    // form is then an exact-dedup key (deterministic min-id survivor).
    // Pure regex surgery spelled identically in both engines
    "q_url_canonical" -> ((s: SparkSession, d: String) => {
      val url = concat(lit("HTTPS://www."), col("source"), lit(".Example.COM/docs/"),
        (col("doc_id") % 100).cast("string"), lit("/?utm_source=x&lang="), col("lang"),
        lit("&utm_b=2#s"), col("doc_id").cast("string"))
      val noFrag = regexp_replace(url, "#.*$", "")
      val proto = lower(regexp_extract(noFrag, "^([A-Za-z]+)://", 1))
      val host = regexp_replace(
        lower(regexp_extract(noFrag, "^[A-Za-z]+://([^/?#]+)", 1)), "^www\\.", "")
      val path = rtrim(regexp_extract(noFrag, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1), "/")
      val qClean = rtrim(
        regexp_replace(regexp_extract(noFrag, "\\?(.*)$", 1), "utm_[^&]*&?", ""), "&")
      val canon = concat(proto, lit("://"), host, path,
        when(qClean =!= "", concat(lit("?"), qClean)).otherwise(lit("")))
      scan(s, d, "documents")
        .withColumn("canon", canon)
        .groupBy(col("canon"))
        .agg(count(lit(1)).as("n_urls"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("canon"))
    }),

    "q_url_parse" -> ((s: SparkSession, d: String) => {
      val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"),
        col("doc_id").cast("string"), lit("?lang="), col("lang"), lit("&v=2"))
      scan(s, d, "documents")
        .withColumn("__u", url)
        .select(
          col("doc_id"),
          parse_url(col("__u"), lit("PROTOCOL")).as("proto"),
          parse_url(col("__u"), lit("HOST")).as("host"),
          parse_url(col("__u"), lit("PATH")).as("path"),
          parse_url(col("__u"), lit("QUERY"), lit("lang")).as("qlang"),
          regexp_extract(parse_url(col("__u"), lit("HOST")),
            "([^.]+\\.[^.]+)$", 1).as("reg_domain"))
        .orderBy(col("doc_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_bitwise" ->
      """SELECT o_orderkey,
        |  o_orderkey & 255 AS and8,
        |  o_orderkey | 4096 AS or12,
        |  xor(o_orderkey, o_custkey) AS xor_ck,
        |  o_orderkey << 3 AS shl3,
        |  o_orderkey >> 2 AS shr2,
        |  CAST(bit_count(o_orderkey) AS INT) AS nbits
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_array_hof" ->
      raw"""WITH w AS (SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS ws FROM documents)
           |SELECT doc_id,
           |  CAST(len(list_filter(ws, w -> len(w) > 5)) AS INT) AS n_long,
           |  list_contains(ws, 'spark') AS has_spark,
           |  array_to_string(list_transform(list_slice(ws, 1, 3), w -> upper(w)), '|') AS first3_upper,
           |  CAST(list_sum(list_transform(ws, w -> len(w))) AS BIGINT) AS total_chars
           |FROM w ORDER BY doc_id""".stripMargin,
    "q_hash_funcs" ->
      """SELECT c_custkey,
        |  md5(c_name) AS h_md5,
        |  sha256(c_name) AS h_sha256,
        |  lower(to_hex(c_custkey)) AS key_hex
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_url_canonical" ->
      raw"""WITH u AS (SELECT doc_id,
           |  'HTTPS://www.' || source || '.Example.COM/docs/' || CAST(doc_id % 100 AS VARCHAR)
           |    || '/?utm_source=x&lang=' || lang || '&utm_b=2#s' || CAST(doc_id AS VARCHAR) AS url
           |  FROM documents),
           |nf AS (SELECT doc_id, regexp_replace(url, '#.*$$', '') AS nf FROM u),
           |parts AS (SELECT doc_id,
           |  lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS proto,
           |  regexp_replace(lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]+)', 1)), '^www\.', '') AS host,
           |  rtrim(regexp_extract(nf, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1), '/') AS path,
           |  rtrim(regexp_replace(regexp_extract(nf, '\?(.*)$$', 1), 'utm_[^&]*&?', '', 'g'), '&') AS q
           |  FROM nf),
           |c AS (SELECT doc_id,
           |  proto || '://' || host || path ||
           |    CASE WHEN q <> '' THEN '?' || q ELSE '' END AS canon FROM parts)
           |SELECT canon, COUNT(*) AS n_urls, MIN(doc_id) AS first_doc
           |FROM c GROUP BY canon ORDER BY canon""".stripMargin,

    "q_url_parse" ->
      """WITH u AS (SELECT doc_id,
        |  'https://' || source || '.example.com/docs/' || CAST(doc_id AS VARCHAR)
        |    || '?lang=' || lang || '&v=2' AS url
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        |  regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        |  regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
        |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS qlang,
        |  regexp_extract(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1), '([^.]+\.[^.]+)$', 1) AS reg_domain
        |FROM u ORDER BY doc_id""".stripMargin,
    "q_sql_passthrough" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,6))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE o_orderstatus <> 'F'
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_expr_tonumber" ->
      """SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal_num, CAST(0.0 AS DOUBLE) AS seg_num
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_num,
        |  json_extract_string(props, '$.k') AS k_str,
        |  CAST(json_extract(props, '$.k') AS BIGINT) AS k_typed
        |FROM events ORDER BY event_id""".stripMargin,
    "q_date_bdays" ->
      """WITH l AS (SELECT l_orderkey, l_returnflag,
        |             CAST(CAST(l_shipdate AS DATE) - DATE '1992-01-06' AS BIGINT) AS ds
        |           FROM lineitem),
        |o AS (SELECT o_orderkey,
        |        CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-06' AS BIGINT) AS dd
        |      FROM orders),
        |b AS (SELECT l_returnflag,
        |        ((ds // 7) * 5 + LEAST(ds % 7, 5))
        |          - ((dd // 7) * 5 + LEAST(dd % 7, 5)) AS bd
        |      FROM l JOIN o ON o_orderkey = l_orderkey)
        |SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(bd) AS BIGINT) AS sum_bdays,
        |  CAST(MIN(bd) AS BIGINT) AS min_bdays,
        |  CAST(MAX(bd) AS BIGINT) AS max_bdays,
        |  CAST(SUM(bd) * 1000 // count(*) AS BIGINT) AS avg_milli
        |FROM b GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_date_arith" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) + 45 AS plus_45d,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus_2mo,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |  CAST(quarter(o_orderdate) AS INT) AS qtr,
        |  CAST(dayofweek(o_orderdate) AS INT) + 1 AS dow
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_string_regex" ->
      raw"""SELECT p_partkey,
           |  array_to_string(regexp_extract_all(p_name, '[a-z]+'), '|') AS words,
           |  split_part(p_type, ' ', 1) AS type_head,
           |  translate(p_brand, '#', '-') AS brand_dashed,
           |  CAST(ascii(substring(p_name, 1, 1)) AS BIGINT) AS first_ascii
           |FROM part ORDER BY p_partkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INT) AS yr,
        |  CAST(month(o_orderdate) AS INT) AS mo,
        |  CAST(day(o_orderdate) AS INT) AS dom,
        |  strftime(o_orderdate, '%Y-%m') AS ym,
        |  date_diff('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS days_to_end,
        |  CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)), 1) AS DOUBLE) AS price_r1,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_extendedprice) AS BIGINT) AS price_ceil,
        |  abs(l_quantity - 25) AS qty_dev,
        |  l_discount * l_discount AS disc_sq,
        |  greatest(l_quantity, l_discount * 100) AS g,
        |  CASE WHEN l_quantity > 25 THEN 'H' WHEN l_quantity > 10 THEN 'M' ELSE 'L' END AS qty_band
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice, disc_sq""".stripMargin,
    "q_null_funcs" ->
      """SELECT o_orderkey,
        |  nullif(o_orderstatus, 'F') AS status_nf,
        |  coalesce(nullif(o_orderstatus, 'F'), 'CLOSED') AS status_c,
        |  CASE WHEN nullif(o_orderstatus, 'F') IS NULL THEN o_totalprice ELSE 0.0 END AS closed_price,
        |  nullif(o_orderstatus, 'F') IS NULL AS is_closed
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_map_funcs" ->
      """SELECT r_regionkey,
        |  map_extract(m, 'name')[1] AS m_name,
        |  map_extract(m, 'missing')[1] AS m_missing,
        |  CAST(cardinality(m) AS INT) AS m_size
        |FROM (SELECT r_regionkey,
        |        MAP {'name': r_name, 'key': r_regionkey::VARCHAR} AS m
        |      FROM region)
        |ORDER BY r_regionkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT c_custkey,
        |  lpad(c_name, 25, '*') AS padded_l,
        |  rpad(c_mktsegment, 12, '.') AS padded_r,
        |  reverse(c_name) AS rev,
        |  CAST(levenshtein(c_mktsegment, 'MACHINERY') AS INT) AS lev,
        |  repeat('ab', 3) AS rep,
        |  CAST(strpos(c_name, '0') AS BIGINT) AS pos0,
        |  CAST(length(c_name) AS BIGINT) AS len
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q_array_funcs" ->
      raw"""WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ws FROM documents)
           |SELECT doc_id,
           |  CAST(len(ws) AS INT) AS n_words,
           |  array_to_string(ws[1:5], '|') AS first5,
           |  array_to_string(list_sort(list_distinct(ws[1:10])), '|') AS d10,
           |  CAST(list_sum([length(x) for x in ws[1:10]]) AS INT) AS len10,
           |  array_to_string(list_sort(list_distinct(ws[1:6])), '|') AS sorted6
           |FROM w ORDER BY doc_id""".stripMargin,
    "q_agg_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  true AS within_tolerance
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_approx_pct" ->
      """SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS exact_median,
        |  true AS within_tolerance
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // census replay of the exact element at rank ceil(q*n) per priority;
    // the sketch side is graded by the deterministic rank-window boolean
    "q_agg_kll" ->
      """WITH v AS (SELECT o_orderpriority AS pr,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders),
        |c AS (SELECT pr, v, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY pr, v),
        |cum AS (SELECT pr, v, SUM(c) OVER (PARTITION BY pr ORDER BY v) AS cum
        |        FROM c),
        |n AS (SELECT pr, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY pr),
        |q AS (SELECT unnest([250000, 500000, 750000, 875000]) AS q_ppm),
        |t AS (SELECT n.pr, q.q_ppm, (q.q_ppm * n.n + 999999) // 1000000 AS target
        |      FROM n, q),
        |e AS (SELECT t.pr, t.q_ppm, CAST(MIN(cum.v) AS BIGINT) AS exact_v
        |      FROM t JOIN cum ON cum.pr = t.pr AND cum.cum >= t.target
        |      GROUP BY t.pr, t.q_ppm)
        |SELECT pr, CAST(q_ppm AS BIGINT) AS q_ppm, exact_v,
        |  true AS within_bound
        |FROM e ORDER BY pr, q_ppm""".stripMargin,

    // grouped-KLL replay: exact element at rank ceil(q*n) per
    // (lang, source) over per-doc whitespace token counts; the sketch
    // estimate is graded by the engine-side rank-window boolean
    "q_agg_kll_grouped" ->
      raw"""WITH v AS (SELECT lang, source,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS v
           |  FROM documents),
           |c AS (SELECT lang, source, v, CAST(COUNT(*) AS BIGINT) AS c
           |      FROM v GROUP BY lang, source, v),
           |cum AS (SELECT lang, source, v,
           |          SUM(c) OVER (PARTITION BY lang, source ORDER BY v) AS cum
           |        FROM c),
           |n AS (SELECT lang, source, CAST(SUM(c) AS BIGINT) AS n
           |      FROM c GROUP BY lang, source),
           |q AS (SELECT unnest([500000, 950000]) AS q_ppm),
           |t AS (SELECT n.lang, n.source, q.q_ppm,
           |        (q.q_ppm * n.n + 999999) // 1000000 AS target
           |      FROM n, q),
           |e AS (SELECT t.lang, t.source, t.q_ppm,
           |        CAST(MIN(cum.v) AS BIGINT) AS exact_v
           |      FROM t JOIN cum ON cum.lang = t.lang AND cum.source = t.source
           |        AND cum.cum >= t.target
           |      GROUP BY t.lang, t.source, t.q_ppm)
           |SELECT lang, source, CAST(q_ppm AS BIGINT) AS q_ppm, exact_v,
           |  true AS within_bound
           |FROM e ORDER BY lang, source, q_ppm""".stripMargin,

    // exact top-10 census replay; the sketch side is graded by the
    // deterministic theorem booleans (k=8 → error bound n/9)
    // full cell-by-cell CMS replay from the portable hash — the
    // estimate is hash-matched, not tolerance-matched
    "q_agg_cms" -> {
      val hb = DedupQueries.sqlHex60Public("md5('cms:' || CAST(r AS VARCHAR) || ':' || w)")
      raw"""WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |           FROM documents),
           |tk AS (SELECT w FROM w WHERE regexp_full_match(w, '[a-z]+')),
           |t AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY w),
           |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM t),
           |rr AS (SELECT unnest([0, 1, 2]) AS r),
           |hb AS (SELECT r, w, ($hb) % 64 AS b
           |       FROM (SELECT rr.r AS r, tk.w AS w FROM tk CROSS JOIN rr)),
           |sk AS (SELECT r, b, CAST(COUNT(*) AS BIGINT) AS c FROM hb GROUP BY r, b),
           |topt AS (SELECT w, c FROM t ORDER BY c DESC, w LIMIT 10),
           |eb AS (SELECT w, r, ($hb) % 64 AS b
           |       FROM (SELECT topt.w AS w, rr.r AS r FROM topt CROSS JOIN rr)),
           |est AS (SELECT eb.w, MIN(COALESCE(sk.c, 0)) AS est
           |        FROM eb LEFT JOIN sk USING (r, b) GROUP BY eb.w)
           |SELECT topt.w AS token, topt.c AS exact_cnt,
           |  CAST(est.est AS BIGINT) AS cms_est,
           |  est.est >= topt.c AS never_undercounts,
           |  CAST((est.est - topt.c) * 1000000 // n.n AS BIGINT) AS overcount_ppm
           |FROM topt JOIN est ON est.w = topt.w, n ORDER BY token""".stripMargin
    },

    // full word-by-word Bloom replay from the portable hash: build,
    // member re-probe (the theorem side) and the 200 zz-probes, all
    // hash-matched
    "q_agg_bloom" -> {
      val hp = DedupQueries.sqlHex60Public("md5('bloom:' || CAST(r AS VARCHAR) || ':' || x)")
      raw"""WITH w0 AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |            FROM documents),
           |tk AS (SELECT DISTINCT w AS x FROM w0 WHERE regexp_full_match(w, '[a-z]+')),
           |rr AS (SELECT unnest([0, 1, 2]) AS r),
           |pos AS (SELECT ($hp) % 4096 AS pos
           |        FROM (SELECT tk.x AS x, rr.r AS r FROM tk CROSS JOIN rr)),
           |bm AS (SELECT pos // 32 AS w,
           |         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))
           |           AS BIGINT) AS bits
           |       FROM pos GROUP BY pos // 32),
           |nb AS (SELECT CAST(SUM(bit_count(bits)) AS BIGINT) AS n_set_bits FROM bm),
           |mt AS (SELECT x, ($hp) % 4096 AS pos
           |       FROM (SELECT tk.x AS x, rr.r AS r FROM tk CROSS JOIN rr)),
           |mh AS (SELECT mt.x, MIN(CASE WHEN COALESCE(bm.bits, 0)
           |           & (CAST(1 AS BIGINT) << CAST(mt.pos % 32 AS INT)) <> 0
           |         THEN 1 ELSE 0 END) AS hit
           |       FROM mt LEFT JOIN bm ON bm.w = mt.pos // 32 GROUP BY mt.x),
           |mem AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_members,
           |          CAST(MIN(hit) AS BIGINT) AS all_hit FROM mh),
           |ng AS (SELECT 'zz' || CAST(unnest(range(0, 200)) AS VARCHAR) AS x),
           |np AS (SELECT x, ($hp) % 4096 AS pos
           |       FROM (SELECT ng.x AS x, rr.r AS r FROM ng CROSS JOIN rr)),
           |nh AS (SELECT np.x, MIN(CASE WHEN COALESCE(bm.bits, 0)
           |           & (CAST(1 AS BIGINT) << CAST(np.pos % 32 AS INT)) <> 0
           |         THEN 1 ELSE 0 END) AS hit
           |       FROM np LEFT JOIN bm ON bm.w = np.pos // 32 GROUP BY np.x),
           |nf AS (SELECT CAST(SUM(hit) AS BIGINT) AS n_false_pos FROM nh)
           |SELECT mem.n_members, nb.n_set_bits,
           |  CAST(nb.n_set_bits * 1000000 // 4096 AS BIGINT) AS fill_ppm,
           |  mem.all_hit = 1 AS no_false_negatives,
           |  CAST(200 AS BIGINT) AS n_neg_probes, nf.n_false_pos,
           |  CAST(nf.n_false_pos * 1000000 // 200 AS BIGINT) AS fpr_ppm
           |FROM mem, nb, nf""".stripMargin
    },

    // per-language word-by-word Bloom replay from the portable hash
    "q_agg_bloom_grouped" -> {
      val hp = DedupQueries.sqlHex60Public("md5('bloom:' || CAST(r AS VARCHAR) || ':' || x)")
      raw"""WITH w0 AS (SELECT lang,
           |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |  FROM documents),
           |tk AS (SELECT DISTINCT lang, w AS x FROM w0
           |       WHERE regexp_full_match(w, '[a-z]+')),
           |rr AS (SELECT unnest([0, 1, 2]) AS r),
           |pos AS (SELECT lang, ($hp) % 4096 AS pos
           |        FROM (SELECT tk.lang, tk.x AS x, rr.r AS r
           |              FROM tk CROSS JOIN rr)),
           |bm AS (SELECT lang, pos // 32 AS w,
           |         CAST(bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))
           |           AS BIGINT) AS bits
           |       FROM pos GROUP BY lang, pos // 32),
           |nb AS (SELECT lang, CAST(SUM(bit_count(bits)) AS BIGINT) AS n_set_bits
           |       FROM bm GROUP BY lang),
           |mt AS (SELECT lang, x, ($hp) % 4096 AS pos
           |       FROM (SELECT tk.lang, tk.x AS x, rr.r AS r
           |             FROM tk CROSS JOIN rr)),
           |mh AS (SELECT mt.lang, mt.x, MIN(CASE WHEN COALESCE(bm.bits, 0)
           |           & (CAST(1 AS BIGINT) << CAST(mt.pos % 32 AS INT)) <> 0
           |         THEN 1 ELSE 0 END) AS hit
           |       FROM mt LEFT JOIN bm
           |         ON bm.lang = mt.lang AND bm.w = mt.pos // 32
           |       GROUP BY mt.lang, mt.x),
           |mem AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_members,
           |          CAST(MIN(hit) AS BIGINT) AS all_hit FROM mh GROUP BY lang),
           |lg AS (SELECT DISTINCT lang FROM tk),
           |ng AS (SELECT lg.lang, 'zz' || CAST(i AS VARCHAR) AS x
           |       FROM lg CROSS JOIN (SELECT unnest(range(0, 200)) AS i)),
           |np AS (SELECT lang, x, ($hp) % 4096 AS pos
           |       FROM (SELECT ng.lang, ng.x AS x, rr.r AS r
           |             FROM ng CROSS JOIN rr)),
           |nh AS (SELECT np.lang, np.x, MIN(CASE WHEN COALESCE(bm.bits, 0)
           |           & (CAST(1 AS BIGINT) << CAST(np.pos % 32 AS INT)) <> 0
           |         THEN 1 ELSE 0 END) AS hit
           |       FROM np LEFT JOIN bm
           |         ON bm.lang = np.lang AND bm.w = np.pos // 32
           |       GROUP BY np.lang, np.x),
           |nf AS (SELECT lang, CAST(SUM(hit) AS BIGINT) AS n_false_pos
           |       FROM nh GROUP BY lang)
           |SELECT mem.lang, mem.n_members, nb.n_set_bits,
           |  CAST(nb.n_set_bits * 1000000 // 4096 AS BIGINT) AS fill_ppm,
           |  mem.all_hit = 1 AS no_false_negatives,
           |  CAST(200 AS BIGINT) AS n_neg_probes, nf.n_false_pos,
           |  CAST(nf.n_false_pos * 1000000 // 200 AS BIGINT) AS fpr_ppm
           |FROM mem JOIN nb ON nb.lang = mem.lang
           |  JOIN nf ON nf.lang = mem.lang
           |ORDER BY mem.lang""".stripMargin
    },

    "q_agg_cms_grouped" -> {
      val hb = DedupQueries.sqlHex60Public("md5('cms:' || CAST(r AS VARCHAR) || ':' || w)")
      raw"""WITH w0 AS (SELECT lang,
           |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |  FROM documents),
           |tk AS (SELECT lang, w FROM w0 WHERE regexp_full_match(w, '[a-z]+')),
           |t AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tk
           |      GROUP BY lang, w),
           |n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM t GROUP BY lang),
           |rr AS (SELECT unnest([0, 1, 2]) AS r),
           |hb AS (SELECT lang, r, w, ($hb) % 64 AS b
           |       FROM (SELECT tk.lang, rr.r AS r, tk.w AS w
           |             FROM tk CROSS JOIN rr)),
           |sk AS (SELECT lang, r, b, CAST(COUNT(*) AS BIGINT) AS sc
           |       FROM hb GROUP BY lang, r, b),
           |rk AS (SELECT lang, w, c,
           |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS rk
           |       FROM t),
           |topt AS (SELECT lang, w, c FROM rk WHERE rk <= 5),
           |eb AS (SELECT lang, w, r, ($hb) % 64 AS b
           |       FROM (SELECT topt.lang, topt.w AS w, rr.r AS r
           |             FROM topt CROSS JOIN rr)),
           |est AS (SELECT eb.lang, eb.w, MIN(COALESCE(sk.sc, 0)) AS est
           |        FROM eb LEFT JOIN sk USING (lang, r, b) GROUP BY eb.lang, eb.w)
           |SELECT topt.lang, topt.w AS token, topt.c AS exact_cnt,
           |  CAST(est.est AS BIGINT) AS cms_est,
           |  est.est >= topt.c AS never_undercounts,
           |  CAST((est.est - topt.c) * 1000000 // n.n AS BIGINT) AS overcount_ppm
           |FROM topt JOIN est ON est.lang = topt.lang AND est.w = topt.w
           |JOIN n ON n.lang = topt.lang
           |ORDER BY topt.lang, token""".stripMargin
    },

    "q_agg_ams" -> {
      val h = DedupQueries.sqlHex60Public("md5('ams:' || CAST(r AS VARCHAR) || ':' || w)")
      raw"""WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |           FROM documents),
           |tk AS (SELECT w FROM w WHERE regexp_full_match(w, '[a-z]+')),
           |t AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY w),
           |rr AS (SELECT unnest([0, 1, 2, 3, 4]) AS r),
           |zz0 AS (SELECT r, CAST(SUM(1 - 2 * (($h) % 2)) AS BIGINT) AS z
           |        FROM (SELECT rr.r AS r, tk.w AS w FROM tk CROSS JOIN rr)
           |        GROUP BY r),
           |f2e AS (SELECT z * z AS zz, row_number() OVER (ORDER BY z * z) AS rn FROM zz0),
           |ex AS (SELECT CAST(SUM(c * c) AS BIGINT) AS f2_exact FROM t)
           |SELECT ex.f2_exact, CAST(f2e.zz AS BIGINT) AS f2_est,
           |  CAST(abs(f2e.zz - ex.f2_exact) * 1000000 // ex.f2_exact AS BIGINT) AS err_ppm
           |FROM ex, f2e WHERE f2e.rn = 3""".stripMargin
    },

    "q_agg_join_card" -> {
      val h = DedupQueries.sqlHex60Public("md5('ams:' || CAST(r AS VARCHAR) || ':' || w)")
      raw"""WITH rr AS (SELECT unnest([0, 1, 2, 3, 4]) AS r),
           |sv AS (SELECT CAST(user_id AS VARCHAR) AS x FROM events
           |       WHERE event_type = 'view'),
           |sp AS (SELECT CAST(user_id AS VARCHAR) AS x FROM events
           |       WHERE event_type = 'purchase'),
           |zv AS (SELECT r, CAST(SUM(1 - 2 * (($h) % 2)) AS BIGINT) AS zv
           |       FROM (SELECT rr.r AS r, sv.x AS w FROM sv CROSS JOIN rr)
           |       GROUP BY r),
           |zp AS (SELECT r, CAST(SUM(1 - 2 * (($h) % 2)) AS BIGINT) AS zp
           |       FROM (SELECT rr.r AS r, sp.x AS w FROM sp CROSS JOIN rr)
           |       GROUP BY r),
           |m AS (SELECT zv.zv * zp.zp AS zz,
           |        row_number() OVER (ORDER BY zv.zv * zp.zp, zv.r) AS rn
           |      FROM zv JOIN zp USING (r)),
           |ex AS (SELECT CAST(SUM(fv * fp) AS BIGINT) AS join_exact
           |       FROM (SELECT x, COUNT(*) AS fv FROM sv GROUP BY x) a
           |       JOIN (SELECT x, COUNT(*) AS fp FROM sp GROUP BY x) b USING (x))
           |SELECT ex.join_exact, CAST(m.zz AS BIGINT) AS join_est,
           |  CAST(abs(m.zz - ex.join_exact) * 1000000 // ex.join_exact AS BIGINT)
           |    AS err_ppm
           |FROM ex, m WHERE m.rn = 3""".stripMargin
    },

    "q_agg_histcard" ->
      raw"""WITH a AS (SELECT user_id FROM events WHERE event_type = 'view'),
           |b AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
           |ha AS (SELECT user_id // 64 AS bk, CAST(COUNT(*) AS BIGINT) AS na,
           |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS da
           |       FROM a GROUP BY bk),
           |hb AS (SELECT user_id // 64 AS bk, CAST(COUNT(*) AS BIGINT) AS nb,
           |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS db
           |       FROM b GROUP BY bk),
           |bn AS (SELECT CAST(SUM(na * nb // greatest(da, db)) AS BIGINT)
           |         AS est_binned,
           |         CAST(COUNT(*) AS BIGINT) AS n_buckets
           |       FROM ha JOIN hb USING (bk)),
           |gl AS (SELECT CAST((SELECT SUM(na) FROM ha)
           |           * (SELECT SUM(nb) FROM hb)
           |           // greatest((SELECT SUM(da) FROM ha),
           |                      (SELECT SUM(db) FROM hb)) AS BIGINT)
           |         AS est_systemr),
           |ex AS (SELECT CAST(SUM(fv * fp) AS BIGINT) AS join_exact FROM
           |       (SELECT user_id, COUNT(*) AS fv FROM a GROUP BY user_id) x
           |       JOIN (SELECT user_id, COUNT(*) AS fp FROM b GROUP BY user_id) y
           |       USING (user_id))
           |SELECT ex.join_exact, gl.est_systemr,
           |  CAST(abs(gl.est_systemr - ex.join_exact) * 1000000
           |    // ex.join_exact AS BIGINT) AS err_systemr_ppm,
           |  bn.est_binned,
           |  CAST(abs(bn.est_binned - ex.join_exact) * 1000000
           |    // ex.join_exact AS BIGINT) AS err_binned_ppm,
           |  bn.n_buckets
           |FROM ex, gl, bn""".stripMargin,

    "q_agg_hll" -> {
      import graft.ops.{Hll, UlmTokenizer}
      val h = DedupQueries.sqlHex60Public("md5('hll:' || x)")
      val staged = UlmTokenizer.costStages("64", "vv", UlmTokenizer.Duck)
        .foldLeft("SELECT * FROM t1") { case (acc, (n, e)) =>
          s"SELECT *, $e AS $n FROM ($acc)" }
      raw"""WITH e AS (SELECT CAST(user_id AS VARCHAR) AS x FROM events),
           |h AS (SELECT $h AS h FROM e),
           |hr AS (SELECT h % 64 AS reg, h // 64 AS v FROM h),
           |r0 AS (SELECT reg,
           |         CAST(MAX(55 - (${Hll.bitlenCase("v")})) AS BIGINT) AS m0
           |       FROM hr GROUP BY reg),
           |rd AS (SELECT unnest(range(0, 64)) AS reg),
           |rt AS (SELECT rd.reg, COALESCE(r0.m0, 0) AS mr
           |       FROM rd LEFT JOIN r0 USING (reg)),
           |tot AS (SELECT
           |    CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - mr AS INT)) AS BIGINT)
           |      AS s_x,
           |    CAST(SUM(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
           |  FROM rt),
           |t1 AS (SELECT *, greatest(v0, 1) AS vv FROM tot),
           |st AS MATERIALIZED ($staged),
           |est AS (SELECT s_x, v0,
           |    CAST(CAST(${Hll.AlphaX20} AS HUGEINT) * 4096 * ${1L << 55}
           |      // s_x // 1048576 AS BIGINT) AS est_raw,
           |    CAST(CAST(64 AS BIGINT) * cost_cb * 693147 // 100000000
           |      AS BIGINT) AS est_lin
           |  FROM st),
           |e2 AS (SELECT est_raw, est_lin, v0,
           |         CASE WHEN est_raw <= 160 AND v0 > 0 THEN est_lin
           |              ELSE est_raw END AS hll_est
           |       FROM est),
           |ex AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
           |       FROM events)
           |SELECT ex.n_exact, e2.hll_est, e2.est_raw, e2.est_lin,
           |  e2.v0 AS n_regs_zero,
           |  CAST(abs(e2.hll_est - ex.n_exact) * 1000000 // ex.n_exact AS BIGINT)
           |    AS err_ppm
           |FROM ex, e2""".stripMargin
    },

    "q_agg_hll_grouped" -> {
      import graft.ops.{Hll, UlmTokenizer}
      val h = DedupQueries.sqlHex60Public("md5('hll:' || x)")
      val staged = UlmTokenizer.costStages("64", "vv", UlmTokenizer.Duck)
        .foldLeft("SELECT * FROM t1") { case (acc, (n, e)) =>
          s"SELECT *, $e AS $n FROM ($acc)" }
      raw"""WITH e AS (SELECT event_type AS t, CAST(user_id AS VARCHAR) AS x
           |           FROM events),
           |h AS (SELECT t, $h AS h FROM e),
           |hr AS (SELECT t, h % 64 AS reg, h // 64 AS v FROM h),
           |r0 AS (SELECT t, reg,
           |         CAST(MAX(55 - (${Hll.bitlenCase("v")})) AS BIGINT) AS m0
           |       FROM hr GROUP BY t, reg),
           |td AS (SELECT DISTINCT t FROM e),
           |rd AS (SELECT td.t, r.reg FROM td
           |       CROSS JOIN (SELECT unnest(range(0, 64)) AS reg) r),
           |rt AS (SELECT rd.t, rd.reg, COALESCE(r0.m0, 0) AS mr
           |       FROM rd LEFT JOIN r0 USING (t, reg)),
           |tot AS (SELECT t,
           |    CAST(SUM(CAST(1 AS BIGINT) << CAST(55 - mr AS INT)) AS BIGINT)
           |      AS s_x,
           |    CAST(SUM(CASE WHEN mr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v0
           |  FROM rt GROUP BY t),
           |t1 AS (SELECT *, greatest(v0, 1) AS vv FROM tot),
           |st AS MATERIALIZED ($staged),
           |est AS (SELECT t, s_x, v0,
           |    CAST(CAST(${Hll.AlphaX20} AS HUGEINT) * 4096 * ${1L << 55}
           |      // s_x // 1048576 AS BIGINT) AS est_raw,
           |    CAST(CAST(64 AS BIGINT) * cost_cb * 693147 // 100000000
           |      AS BIGINT) AS est_lin
           |  FROM st),
           |e2 AS (SELECT t, est_raw, est_lin, v0,
           |         CASE WHEN est_raw <= 160 AND v0 > 0 THEN est_lin
           |              ELSE est_raw END AS hll_est
           |       FROM est),
           |ex AS (SELECT event_type AS t,
           |         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact
           |       FROM events GROUP BY 1)
           |SELECT ex.t, ex.n_exact, e2.hll_est, e2.est_raw, e2.est_lin,
           |  e2.v0 AS n_regs_zero,
           |  CAST(abs(e2.hll_est - ex.n_exact) * 1000000 // ex.n_exact AS BIGINT)
           |    AS err_ppm
           |FROM ex JOIN e2 USING (t) ORDER BY ex.t""".stripMargin
    },

    "q_agg_bitmap" ->
      raw"""WITH e AS (SELECT event_type AS t, user_id FROM events
           |           WHERE event_type IN ('view', 'purchase')),
           |bm AS (SELECT t, user_id // 32 AS w,
           |         CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
           |           AS BIGINT) AS bits
           |       FROM e GROUP BY t, w),
           |pt AS (SELECT t AS set_name,
           |         CAST(SUM(bit_count(bits)) AS BIGINT) AS n_users,
           |         CAST(COUNT(*) AS BIGINT) AS n_words FROM bm GROUP BY t),
           |v AS (SELECT w, bits AS bv FROM bm WHERE t = 'view'),
           |p AS (SELECT w, bits AS bp FROM bm WHERE t = 'purchase'),
           |j AS (SELECT COALESCE(bv, 0) AS bv, COALESCE(bp, 0) AS bp
           |      FROM v FULL OUTER JOIN p USING (w)),
           |so AS (SELECT CAST(SUM(bit_count(bv & bp)) AS BIGINT) AS n_and,
           |         CAST(SUM(bit_count(bv | bp)) AS BIGINT) AS n_or,
           |         CAST(SUM(CASE WHEN (bv & bp) <> 0 THEN 1 ELSE 0 END)
           |           AS BIGINT) AS w_and,
           |         CAST(COUNT(*) AS BIGINT) AS w_or FROM j)
           |SELECT * FROM (
           |  SELECT set_name, n_users, n_words FROM pt
           |  UNION ALL SELECT 'view_and_purchase', n_and, w_and FROM so
           |  UNION ALL SELECT 'view_or_purchase', n_or, w_or FROM so
           |) ORDER BY set_name""".stripMargin,

    "q_agg_retention" ->
      raw"""WITH e AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           |                  user_id
           |           FROM events),
           |bm AS (SELECT day, user_id // 32 AS w,
           |         CAST(bit_or(CAST(1 AS BIGINT) << CAST(user_id % 32 AS INT))
           |           AS BIGINT) AS bits
           |       FROM e GROUP BY day, w),
           |dau AS (SELECT day, CAST(SUM(bit_count(bits)) AS BIGINT) AS dau
           |        FROM bm GROUP BY day),
           |nx AS (SELECT day - INTERVAL 1 DAY AS day, w, bits AS b2 FROM bm),
           |ret AS (SELECT bm.day, CAST(SUM(bit_count(bm.bits & nx.b2)) AS BIGINT)
           |          AS retained
           |        FROM bm JOIN nx ON nx.day = bm.day AND nx.w = bm.w
           |        GROUP BY bm.day),
           |days AS (SELECT DISTINCT day FROM bm),
           |wn AS (SELECT a.day FROM days a
           |       JOIN days b ON b.day = a.day + INTERVAL 1 DAY)
           |SELECT dau.day, dau.dau, COALESCE(ret.retained, 0) AS retained,
           |  CAST(COALESCE(ret.retained, 0) * 1000000 // dau.dau AS BIGINT)
           |    AS retention_ppm
           |FROM dau JOIN wn ON wn.day = dau.day
           |LEFT JOIN ret ON ret.day = dau.day
           |ORDER BY dau.day""".stripMargin,

    "q_agg_mg" ->
      raw"""WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |           FROM documents),
           |t AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM w
           |      WHERE regexp_full_match(w, '[a-z]+') GROUP BY w),
           |n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM t),
           |top AS (SELECT w, c FROM t ORDER BY c DESC, w LIMIT 10)
           |SELECT w AS token, c AS exact_cnt,
           |  c * 9 > n.n AS guaranteed_heavy,
           |  true AS within_err, true AS present_ok
           |FROM top, n ORDER BY token""".stripMargin,

    // per-language exact top-5 replay; sketch side graded by the same
    // theorem booleans per group
    "q_agg_mg_grouped" ->
      raw"""WITH w AS (SELECT lang,
           |    unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
           |  FROM documents),
           |t AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM w
           |      WHERE regexp_full_match(w, '[a-z]+') GROUP BY lang, w),
           |n AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM t GROUP BY lang),
           |r AS (SELECT lang, w, c,
           |        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, w) AS r
           |      FROM t),
           |top AS (SELECT lang, w, c FROM r WHERE r <= 5)
           |SELECT top.lang, top.w AS token, top.c AS exact_cnt,
           |  top.c * 9 > n.n AS guaranteed_heavy,
           |  true AS within_err, true AS present_ok
           |FROM top JOIN n USING (lang) ORDER BY lang, token""".stripMargin,

    "q_agg_kmv_setops" -> {
      val hv = DedupQueries.sqlHex60Public("md5('ovl:' || CAST(user_id AS VARCHAR))")
      s"""WITH e AS (SELECT DISTINCT event_type AS t, user_id FROM events
         |           WHERE event_type IN ('view', 'purchase')),
         |h AS (SELECT t, $hv AS hv FROM e),
         |r AS (SELECT t, hv, ROW_NUMBER() OVER (PARTITION BY t ORDER BY hv) AS rn,
         |        COUNT(*) OVER (PARTITION BY t) AS n FROM h),
         |th AS (SELECT CASE WHEN MAX(n) < 64 THEN 1152921504606846976
         |              ELSE MAX(CASE WHEN rn = 64 THEN hv END) END AS th
         |       FROM r GROUP BY t),
         |theta AS (SELECT MIN(th) AS theta FROM th),
         |cu AS (SELECT hv, COUNT(DISTINCT t) AS nt FROM r, theta
         |       WHERE rn <= 64 AND hv < theta GROUP BY hv),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS count_u,
         |        CAST(COALESCE(SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END), 0)
         |          AS BIGINT) AS count_i
         |      FROM cu),
         |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS union_exact,
         |         CAST(COALESCE(SUM(CASE WHEN nt = 2 THEN 1 ELSE 0 END), 0)
         |           AS BIGINT) AS inter_exact
         |       FROM (SELECT user_id, COUNT(DISTINCT t) AS nt FROM e
         |             GROUP BY user_id))
         |SELECT
         |  CAST(c.count_u::HUGEINT * 1152921504606846976::HUGEINT
         |    // theta.theta AS BIGINT) AS union_est,
         |  ex.union_exact,
         |  CAST(c.count_i::HUGEINT * 1152921504606846976::HUGEINT
         |    // theta.theta AS BIGINT) AS inter_est,
         |  ex.inter_exact,
         |  CAST(c.count_i * 1000000 // greatest(c.count_u, 1) AS BIGINT)
         |    AS jaccard_est_ppm,
         |  CAST(ex.inter_exact * 1000000 // ex.union_exact AS BIGINT)
         |    AS jaccard_exact_ppm,
         |  CAST(abs(CAST(c.count_u::HUGEINT * 1152921504606846976::HUGEINT
         |             // theta.theta AS BIGINT) - ex.union_exact) * 1000000
         |    // ex.union_exact AS BIGINT) AS union_err_ppm
         |FROM c, theta, ex""".stripMargin
    },

    "q_agg_kmv_grouped" -> {
      val hv = DedupQueries.sqlHex60Public("md5('kmv:' || CAST(o_custkey AS VARCHAR))")
      s"""WITH h AS (SELECT DISTINCT o_orderpriority AS prio, $hv AS hv FROM orders),
         |r AS (SELECT prio, hv,
         |    ROW_NUMBER() OVER (PARTITION BY prio ORDER BY hv) AS rn,
         |    COUNT(*) OVER (PARTITION BY prio) AS cnt FROM h),
         |k AS (SELECT prio, MAX(cnt) AS cnt,
         |    MAX(CASE WHEN rn = 64 THEN hv END) AS z64 FROM r GROUP BY prio),
         |e AS (SELECT o_orderpriority AS prio,
         |    COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders GROUP BY 1)
         |SELECT k.prio AS o_orderpriority,
         |  CASE WHEN k.cnt < 64 THEN k.cnt
         |       ELSE CAST(63::HUGEINT * 1152921504606846976::HUGEINT // k.z64 AS BIGINT)
         |  END AS kmv_estimate,
         |  e.exact_distinct,
         |  CAST(FLOOR(ABS(kmv_estimate - e.exact_distinct) * 1000000
         |    / e.exact_distinct) AS BIGINT) AS err_ppm
         |FROM k JOIN e ON k.prio = e.prio ORDER BY o_orderpriority""".stripMargin
    },

    "q_agg_kmv" -> {
      val hv = DedupQueries.sqlHex60Public("md5('kmv:' || CAST(o_custkey AS VARCHAR))")
      s"""WITH h AS (SELECT DISTINCT o_orderpriority AS prio, $hv AS hv FROM orders),
         |r AS (SELECT prio, hv,
         |    ROW_NUMBER() OVER (PARTITION BY prio ORDER BY hv) AS rn,
         |    COUNT(*) OVER (PARTITION BY prio) AS cnt FROM h),
         |k AS (SELECT prio, MAX(cnt) AS cnt,
         |    MAX(CASE WHEN rn = 32 THEN hv END) AS z32 FROM r GROUP BY prio),
         |e AS (SELECT o_orderpriority AS prio,
         |    COUNT(DISTINCT o_custkey) AS exact_distinct FROM orders GROUP BY 1)
         |SELECT k.prio AS o_orderpriority,
         |  CASE WHEN k.cnt < 32 THEN k.cnt
         |       ELSE CAST(31::HUGEINT * 1152921504606846976::HUGEINT // k.z32 AS BIGINT)
         |  END AS kmv_estimate,
         |  e.exact_distinct,
         |  CAST(FLOOR(ABS(kmv_estimate - e.exact_distinct) * 1000000
         |    / e.exact_distinct) AS BIGINT) AS err_ppm
         |FROM k JOIN e ON k.prio = e.prio ORDER BY o_orderpriority""".stripMargin
    }
  )
}
