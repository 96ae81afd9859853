package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.QueryBuilder.scan
import graft.model.SinkSpec
import graft.sinks.Sinks
import graft.streaming.StreamOps.landing

/** Format breadth: CSV and JSON(-lines) sinks + sources round-trip the
  * data losslessly with explicit schemas — the reference's adapter
  * formats (SQL rows, REST JSON) re-expressed as Spark's columnar
  * readers. Oracles read the ORIGINAL parquet: the round-trip must be
  * the identity.
  */
object FormatQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_csv_roundtrip" -> ((s: SparkSession, d: String) => {
      val out = landing(s, d, "q_csv_roundtrip").path
      Sinks.write(scan(s, d, "nation"), SinkSpec("csv", out))
      s.read.option("header", "true")
        .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .csv(out)
        .orderBy(col("n_nationkey"))
    }),

    "q_json_roundtrip" -> ((s: SparkSession, d: String) => {
      val out = landing(s, d, "q_json_roundtrip").path
      Sinks.write(scan(s, d, "supplier"), SinkSpec("json", out))
      s.read
        .schema("s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE")
        .json(out)
        .orderBy(col("s_suppkey"))
    }),

    // ORC: the columnar alternative — schema rides in the file footer,
    // so the read-back needs no DDL (parity check that types survive)
    "q_orc_roundtrip" -> ((s: SparkSession, d: String) => {
      val out = landing(s, d, "q_orc_roundtrip").path
      Sinks.write(scan(s, d, "part")
        .select("p_partkey", "p_name", "p_type", "p_retailprice"), SinkSpec("orc", out))
      s.read.orc(out).orderBy(col("p_partkey"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_csv_roundtrip" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "q_json_roundtrip" ->
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey",
    "q_orc_roundtrip" ->
      "SELECT p_partkey, p_name, p_type, p_retailprice FROM part ORDER BY p_partkey"
  )
}
