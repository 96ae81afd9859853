package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit

import graft.SparkEntry
import graft.engine.{PipelineRunner, QueryBuilder}
import graft.model.{Connector, Filter, SinkSpec}
import graft.sinks.Sinks

/** What one operation produced: rows it returned or landed, and the result
  * fingerprint the output check compares.
  */
final case class Outcome(rows: Long, fp: Fingerprint)

/** One benchmark operation. `run` does the timed work through `phases`,
  * which opens the build and action spans; `check` runs after the timer
  * stops and returns an error message when the output is wrong.
  */
final case class Op(name: String, tag: String, run: Phases => Outcome,
                    check: Outcome => Option[String] = _ => None)

trait Phases {
  def build[T](body: => T): T
  def action[T](body: => T): T
}

/** The workloads, each a fixed list of operations over one data set. */
object Workloads {
  /** LLM-data operators, one or two per ops family. */
  val corpus: Seq[(String, String)] = Seq(
    "q_dedup_minhash" -> "dedup", "q_sim_knn" -> "similarity", "q_text_gopher" -> "text",
    "q_graph_pagerank" -> "graph", "q_ann_query" -> "ann")

  /** The fixed write-path registry queries of `etl_load`. */
  val etlQueries: Seq[(String, String)] = Seq(
    "q_stream_sink" -> "stream", "q_rest_cursor" -> "rest")

  /** Registry query ops whose outputs the harness fingerprints. */
  def registry(spark: SparkSession, dataDir: String, names: Seq[(String, String)]): Seq[Op] = {
    val reg = SparkEntry.queries
    names.map { case (name, tag) =>
      val fn = reg.getOrElse(name, throw new IllegalArgumentException(s"no registry query $name"))
      Op(name, tag, ph => {
        val df = ph.build(fn(spark, dataDir))
        val rows = ph.action(df.collect())
        Outcome(rows.length, Fingerprint.of(df.columns.toSeq, rows))
      })
    }
  }

  private def fp(df: DataFrame): Fingerprint = Fingerprint.of(df.columns.toSeq, df.collect())

  private def readBack(spark: SparkSession, spec: SinkSpec, like: DataFrame): DataFrame = {
    val r = spark.read.schema(like.schema).options(spec.options)
    spec.format match {
      case "parquet" => r.parquet(spec.path)
      case "orc" => r.orc(spec.path)
      case "json" => r.json(spec.path)
      case "csv" => r.option("header", "true").csv(spec.path)
    }
  }

  /** Seeded pipeline specs through PipelineRunner.run into file sinks, one
    * op of repeated upsert syncs through Sinks.write into a bucketed target,
    * and the fixed write-path registry queries.
    */
  def etl(spark: SparkSession, dataDir: String, scratch: String, seed: Long): Seq[Op] = {
    val runner = new PipelineRunner(spark, dataDir)
    val fs = new Path(scratch).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val specs = SpecGen.pipelines(seed, i => s"$scratch/sink_$i")
    val expected = mutable.Map[Int, Fingerprint]()
    val pipelineOps = specs.zipWithIndex.map { case (spec, i) =>
      val sink = spec.target.get
      Op(s"pipeline_${i}_${sink.format}", "sink",
        ph => Outcome(ph.action(runner.run(spec)).rows, null),
        out => {
          val source = QueryBuilder.build(spark, dataDir, spec.source.get)
          val want = expected.getOrElseUpdate(i, fp(source))
          val got = fp(readBack(spark, sink, source))
          if (got == want && out.rows == want.rows) None
          else Some(s"sink ${sink.format} read back $got, source $want, loaded ${out.rows}")
        })
    }
    val batches = SpecGen.upserts(seed, keys = spark.read.parquet(s"$dataDir/orders.parquet").count())
    val target = s"$scratch/upsert_target"
    val sink = SinkSpec("upsert", target,
      options = Map("keys" -> "o_orderkey", "versionCols" -> "ver", "numBuckets" -> "8"))
    def batch(b: SpecGen.UpsertBatch): DataFrame =
      QueryBuilder.build(spark, dataDir, Connector("orders", limit = 0, filters = Seq(
        Filter("o_orderkey", ">=", b.lo), Filter("o_orderkey", "<", b.hi))))
        .withColumn("ver", lit(b.version))
    // computed once, in the untimed warm-up pass
    lazy val upsertRows: Long = batches.map(batch(_).count()).sum
    lazy val upsertWant: Fingerprint = {
      val latest = mutable.Map[Long, (Int, Row)]()
      var columns: Seq[String] = Nil
      batches.foreach { b =>
        val df = batch(b)
        columns = df.columns.toSeq
        df.collect().foreach { r =>
          val k = r.getAs[Long]("o_orderkey")
          if (latest.get(k).forall(_._1 < b.version)) latest(k) = (b.version, r)
        }
      }
      Fingerprint.of(columns, latest.values.map(_._2))
    }
    val upsertOp = Op("upsert_sync", "upsert",
      ph => {
        batches.foreach { b =>
          val df = ph.build(batch(b))
          ph.action(Sinks.write(df, sink))
        }
        Outcome(upsertRows, null)
      },
      _ => {
        val got = fp(new graft.ops.BucketedTarget(spark, target, 8, Seq("o_orderkey"), Seq("ver")).read())
        fs.delete(new Path(target), true) // every pass syncs into a fresh target
        if (got == upsertWant) None else Some(s"upsert target $got, expected $upsertWant")
      })
    pipelineOps ++ Seq(upsertOp) ++ registry(spark, dataDir, etlQueries)
  }
}
