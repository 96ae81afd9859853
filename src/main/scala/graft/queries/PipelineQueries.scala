package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.PipelineRunner
import graft.model._
import graft.streaming.StreamOps.landing

/** End-to-end pipeline query: the full E→T→L runner (extract + declarative
  * transforms + parquet sink with batch cap + read-back), mirroring the
  * reference's download→upload round-trip test
  * (adapters/postgresql/tests/integration.test.ts:229-277).
  */
object PipelineQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_pipeline_roundtrip" -> ((s: SparkSession, d: String) => {
      val out = landing(s, d, "q_pipeline_roundtrip").path
      val runner = new PipelineRunner(s, d)
      val spec = PipelineSpec(
        source = Some(Connector(
          table = "customer",
          filters = Seq(Filter("c_acctbal", ">", 0.0)),
          transformations = Seq(
            Transformation("concat", properties = Seq("c_name", "c_mktsegment"),
              glue = "|", to = "name_seg"),
            Transformation("uppercase", field = "c_mktsegment", to = "seg_upper")),
          limit = 0
        )),
        target = Some(SinkSpec("parquet", out, itemsPerBatch = 500)),
        errorHandling = ErrorHandling(maxRetries = 1)
      )
      val res = runner.run(spec)
      require(res.loaded && res.rows > 0, s"pipeline did not load: $res")
      s.read.parquet(out).orderBy(col("c_custkey"))
    }),

    // TWO scheduled sync runs into a declarative upsert sink: each run
    // extracts a slice of orders and latest-wins-merges it into the same
    // hash-bucketed target (cost ∝ batch — Sinks "upsert" format over
    // BucketedTarget). Because the merge is associative and commutative,
    // the final state ≡ latest order per customer over ALL orders
    // regardless of how the runs sliced them — the reference's repeated
    // `action: "sync"` schedule, end to end through the runner.
    "q_pipeline_sync" -> ((s: SparkSession, d: String) => {
      val out = landing(s, d, "q_pipeline_sync").path
      val runner = new PipelineRunner(s, d)
      val sink = SinkSpec("upsert", out, options = Map(
        "keys" -> "o_custkey",
        "versionCols" -> "o_orderdate,o_orderkey",
        "numBuckets" -> "8"))
      def sync(filters: Seq[Filter]): Unit = {
        val res = runner.run(PipelineSpec(
          source = Some(Connector("orders", filters = filters, limit = 0)),
          target = Some(sink)))
        require(res.loaded, s"sync run did not load: $res")
      }
      sync(Seq(Filter("o_orderkey", "<=", 30000L)))
      sync(Seq(Filter("o_orderkey", ">", 30000L)))
      new graft.ops.BucketedTarget(s, out, 8,
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"))
        .read().orderBy(col("o_custkey"))
    }),

    // WRITE–AUDIT–PUBLISH landing (ops/Wap.scala): the batch stages,
    // the constraint suite audits the STAGED FILES, and only a green
    // audit swaps staging into the published path. The query reads the
    // PUBLISHED table back and emits its manifest (count + content
    // xor) alongside the audit tally — the oracle recomputes the same
    // manifest from the source, which only matches if publish really
    // landed the full audited batch. Failure path (no publish, old
    // table intact) is spec'd in PipelineRunnerSpec
    "q_pipeline_wap" -> ((s: SparkSession, d: String) => {
      import graft.ops.{Constraints, Wap}
      import graft.ops.Constraints.Check
      val suffix = Integer.toHexString(d.hashCode)
      val stage = s"${graft.engine.Staging.session}/graft_wap_stage_$suffix"
      val pub = s"${graft.engine.Staging.session}/graft_wap_pub_$suffix"
      val data = graft.engine.QueryBuilder.scan(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
      val res = Wap.publish(data, Seq(
          Check.notNull("l_orderkey"),
          Check.inRange("l_quantity", 1, 50),
          Check.inSet("l_returnflag", Seq("A", "N", "R"))),
        stage, pub)
      val audit = res.report.agg(
        count(lit(1)).as("n_rules"),
        sum(col("pass").cast("long")).cast("long").as("n_passed"))
      s.read.parquet(pub)
        .select(graft.ops.Dedup.hex60(md5(concat(
          col("l_orderkey").cast("string"), lit(":"),
          col("l_linenumber").cast("string"), lit(":"),
          floor(col("l_quantity")).cast("long").cast("string")).cast("binary"))).as("h"))
        .agg(count(lit(1)).as("n_rows"), expr("bit_xor(h)").as("xor60"))
        .crossJoin(broadcast(audit))
        .withColumn("published", lit(res.published))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_pipeline_roundtrip" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |       c_name || '|' || c_mktsegment AS name_seg,
        |       upper(c_mktsegment) AS seg_upper
        |FROM customer WHERE c_acctbal > 0.0
        |ORDER BY c_custkey""".stripMargin,
    "q_pipeline_sync" ->
      """SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |                                   ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |      FROM orders) t
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
    "q_pipeline_wap" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(bit_xor(${DedupQueries.sqlHex60Public(
              "md5(l_orderkey::VARCHAR || ':' || l_linenumber::VARCHAR || ':' || CAST(floor(l_quantity) AS BIGINT)::VARCHAR)")}) AS BIGINT) AS xor60,
         |  CAST(3 AS BIGINT) AS n_rules, CAST(3 AS BIGINT) AS n_passed,
         |  true AS published
         |FROM lineitem""".stripMargin
  )
}
