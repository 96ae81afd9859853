package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.LongType

import graft.engine.QueryBuilder

/** `QueryBuilder.scan` reads the parquet schema on the driver: building
  * a scan starts no Spark job, and the schema is the one Spark's own
  * footer-inference job would give.
  */
class ScanSchemaSpec extends SparkSpec {

  private val tables = Seq("customer", "documents", "embeddings", "events", "lineitem",
    "nation", "orders", "part", "region", "supplier")

  test("scan starts no Spark job and reads Spark's inferred schema, every sf0.001 table") {
    tables.foreach { t =>
      val (df, jobs) = jobsDuring(spark.read.parquet(s"$sf001/$t.parquet").schema)
      assert(jobs > 0, s"$t: the job counter sees Spark's footer job")
      val (scanned, scanJobs) = jobsDuring(QueryBuilder.readParquet(spark, s"$sf001/$t.parquet"))
      assert(scanJobs == 0, s"$t: readParquet started $scanJobs jobs")
      assert(scanned.schema == df, s"$t schema")
      assert(jobsDuring(QueryBuilder.scan(spark, sf001, t))._2 == 0, s"$t: scan")
    }
  }

  test("TIMESTAMP(NANOS) reads as a long under the session's nanosAsLong, as Spark infers it") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val dir = java.nio.file.Files.createTempDirectory("graft_nanos").toString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 id; optional int64 ts (TIMESTAMP(NANOS,true)); }")
    val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema)
      w.write(g.newGroup().append("id", 1L).append("ts", 1700000000123456789L))
    } finally w.close()
    val (df, jobs) = jobsDuring(QueryBuilder.readParquet(spark, s"$dir/events.parquet"))
    assert(jobs == 0)
    assert(df.schema == spark.read.parquet(s"$dir/events.parquet").schema)
    assert(df.schema("ts").dataType == LongType)
    val ts = QueryBuilder.scan(spark, dir, "events").select("ts").head().getTimestamp(0)
    assert(ts.getTime == 1700000000123L)
  }

  test("a Spark-written multi-part directory: no job, same schema, same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_scan").toString + "/t"
    QueryBuilder.scan(spark, sf001, "orders").repartition(3).write.parquet(dir)
    val (df, jobs) = jobsDuring(QueryBuilder.readParquet(spark, dir))
    assert(jobs == 0)
    val inferred = spark.read.parquet(dir)
    assert(df.schema == inferred.schema)
    assert(df.collect().toSet == inferred.collect().toSet)
  }

  test("a missing table still fails with Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](QueryBuilder.scan(spark, sf001, "no_such_table"))
    assert(e.getCondition == "PATH_NOT_FOUND")
  }
}
