package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Source registry — the Spark analogue of the reference's adapter
  * catalog (Orchestrator(vault, adapters), src/index.ts:316-327,557-562).
  * Where the reference registers 13 HTTP/DB adapters each compiling its
  * own query dialect (SURVEY §2.1 S6-S21), here a source is any Spark
  * reader: the pushdowns the adapters hand-coded (projection, predicate,
  * limit) come from Catalyst/DSv2 for free.
  *
  * Credentials follow the reference's vault shape (getCredentials,
  * src/index.ts:334-351): a named secret map merged into reader options
  * (e.g. JDBC user/password) at bind time, never stored in the plan.
  */
final case class SourceDef(
    format: String,                          // parquet | csv | json | orc | jdbc
    path: String = null,
    options: Map[String, String] = Map.empty,
    credentialsKey: String = null            // vault lookup, merged into options
)

final class Vault(secrets: Map[String, Map[String, String]]) {
  /** reference src/index.ts:334-351: missing key is a hard error. */
  def get(key: String): Map[String, String] =
    secrets.getOrElse(key, throw new IllegalArgumentException(s"no credentials for '$key'"))
}
object Vault { val empty = new Vault(Map.empty) }

final class SourceRegistry(vault: Vault = Vault.empty) {
  private val defs = scala.collection.mutable.Map[String, SourceDef]()

  def register(name: String, d: SourceDef): this.type = { defs(name) = d; this }

  def load(spark: SparkSession, name: String): DataFrame = {
    val d = defs.getOrElse(name,
      throw new IllegalArgumentException(s"unknown source '$name'")) // ≈ "Adapter not found", src/index.ts:388
    val creds = Option(d.credentialsKey).map(vault.get).getOrElse(Map.empty)
    val reader = spark.read.format(d.format).options(d.options ++ creds)
    if (d.path != null) reader.load(d.path) else reader.load()
  }
}
