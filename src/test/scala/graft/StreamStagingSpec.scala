package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.engine.QueryBuilder
import graft.streaming.StreamOps

/** Staged stream sources: the once-per-fingerprint write memo, the
  * stage dir derived from the relation, the per-slice runner and the
  * append-only landing the bounded stream queries merge from. */
class StreamStagingSpec extends SparkSpec {

  private def events(d: String = sf001): DataFrame = QueryBuilder.scan(spark, d, "events")
  private def orders: DataFrame = QueryBuilder.scan(spark, sf001, "orders")

  test("boundedSliceFiles lists the sorted parquet parts of a file: URI") {
    val dir = Files.createTempDirectory("graft_slices").toString + "/t"
    spark.range(30).repartition(3).write.parquet(dir)
    val expected = {
      val ls = Files.list(java.nio.file.Paths.get(dir))
      try {
        import scala.jdk.CollectionConverters._
        ls.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".parquet")).toList.sorted
      } finally ls.close()
    }
    val parts = StreamOps.boundedSliceFiles("file:" + dir)
    assert(expected.size == 3)
    assert(parts == parts.sorted)
    assert(parts.map(p => new Path(p).getName) == expected)
  }

  test("stageOnce writes once per fingerprint and rewrites, logged, when it changes") {
    val path = s"stage_once_${System.nanoTime}"
    var writes = 0
    val err = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(err, true))
    try {
      StreamOps.stageOnce(path, "fp1")(writes += 1)
      StreamOps.stageOnce(path, "fp1")(writes += 1)
      assert(writes == 1)
      assert(!err.toString.contains(path))
      StreamOps.stageOnce(path, "fp2")(writes += 1)
      assert(writes == 2)
    } finally System.setErr(saved)
    assert(err.toString.contains(s"[stage] rewriting $path: fingerprint changed"))
  }

  test("identical relations built separately share one stage dir and one write") {
    val a = StreamOps.stage(events().repartition(3, col("event_id")))
    val (b, jobs) = jobsDuring(StreamOps.stage(events().repartition(3, col("event_id"))))
    assert(a == b)
    assert(jobs == 0, s"the second stage() started $jobs jobs")
    assert(StreamOps.boundedSliceFiles(a).size == 3)
  }

  test("a filtered, projected, re-partitioned or other-dataset relation gets its own dir") {
    val base = StreamOps.stage(events().repartition(3, col("event_id")))
    val others = Seq(
      events().filter(col("event_type").isin("view", "purchase")).repartition(3, col("event_id")),
      events().select("event_id", "value").repartition(3, col("event_id")),
      events().repartition(2, col("event_id")),
      events("/root/testdata/sf0.01").repartition(3, col("event_id"))
    ).map(StreamOps.stage)
    assert((base +: others).distinct.size == 5)
    // the projected drift shape against the full orders stage
    val drift = orders.filter(col("o_orderdate") >= "1995-01-01")
      .select("o_orderkey", "o_totalprice").repartition(2, col("o_orderkey"))
    assert(StreamOps.stage(drift) != StreamOps.stage(orders.repartition(2, col("o_orderkey"))))
  }

  test("foreachSlice runs one slice per staged part, each with exactly the relation's schema") {
    val rel = events().repartition(3, col("event_id"))
    val slices = Seq.newBuilder[(org.apache.spark.sql.types.StructType, Long)]
    StreamOps.foreachSlice(rel)(b => slices += (b.schema -> b.count()))
    val got = slices.result()
    assert(got.size == 3)
    got.foreach { case (schema, _) => assert(schema == rel.schema) }
    assert(got.map(_._2).sum == events().count())
  }

  test("a landing clears its dir, appends, and reads back the union without a job") {
    val name = s"spec_${System.nanoTime}"
    val stale = StreamOps.landing(spark, sf001, name)
    spark.range(5).write.parquet(stale.path)
    val out = StreamOps.landing(spark, sf001, name)
    assert(out.path == stale.path)
    assert(!Files.exists(java.nio.file.Paths.get(out.path)))
    Seq(0L -> 10L, 10L -> 20L, 20L -> 25L).foreach { case (lo, hi) =>
      out.append(spark.range(lo, hi).toDF("id"))
    }
    val (df, jobs) = jobsDuring(out.read())
    assert(jobs == 0, s"read() started $jobs jobs")
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == (0L until 25L))
  }
}
