package graft.sinks

import org.apache.spark.sql.{DataFrame, Row}
import graft.model.SinkSpec

/** Sinks — the Spark analogue of the reference's upload surface
  * (SURVEY §2.1 K1-K4). File/JDBC sinks are `df.write`; the reference's
  * upload batcher (itemsPerBatch slices + per-batch retry,
  * src/index.ts:479-524) maps to:
  *   - file sinks: `maxRecordsPerFile` (the batch cap, enforced by Spark)
  *   - custom sinks: foreachPartition + grouped iterator with per-batch
  *     retry — the shape every HTTP-adapter upload (K4) plugs into.
  * Nothing is ever collected to the driver.
  */
object Sinks {

  def write(df: DataFrame, spec: SinkSpec): Unit = {
    val writer = df.write
      .mode(if (spec.mode.isEmpty) "overwrite" else spec.mode)
      .options(spec.options)
    val batched =
      if (spec.itemsPerBatch > 0)
        writer.option("maxRecordsPerFile", spec.itemsPerBatch.toLong)
      else writer
    spec.format match {
      case "parquet" => batched.parquet(spec.path)
      case "csv"     => batched.option("header", "true").csv(spec.path)
      case "json"    => batched.json(spec.path)
      case "orc"     => batched.orc(spec.path)
      case "jdbc"    => batched.format("jdbc").save()
      // the reference's destination-upsert semantic as a declarative
      // sink: latest-wins merge into a hash-bucketed parquet target that
      // rewrites only the buckets this batch's keys touch (cost ∝ batch,
      // crash-safe per-bucket swap — ops/BucketedTarget). Options:
      // keys (csv, required), versionCols (csv), numBuckets (default 16)
      case "upsert" =>
        // merge semantics are inherent: the target is always latest-wins
        // merged, never truncated — so an explicit overwrite/ignore mode
        // must fail loudly rather than be silently reinterpreted as merge
        require(spec.mode.isEmpty || spec.mode == "append",
          s"upsert sink is always a latest-wins merge; mode='${spec.mode}' would be silently ignored " +
            "(use mode='' or 'append', or a plain parquet sink for truncate-and-load)")
        // the bucket layout owns file sizing, so a batch cap would be misleading
        require(spec.itemsPerBatch == 0,
          "upsert sink manages its own file layout; itemsPerBatch is not applicable")
        val keys = spec.options.getOrElse("keys",
          throw new IllegalArgumentException("upsert sink requires a 'keys' option")
        ).split(",").map(_.trim).toSeq
        val versionCols = spec.options.get("versionCols")
          .map(_.split(",").map(_.trim).toSeq).getOrElse(Nil)
        val numBuckets = spec.options.getOrElse("numBuckets", "16").toInt
        new graft.ops.BucketedTarget(df.sparkSession, spec.path, numBuckets, keys, versionCols)
          .upsert(df)
        ()
      case other     => throw new IllegalArgumentException(s"unknown sink format '$other'")
    }
  }

  /** Gmail send-upload (K4): the adapter POSTs ONE message per item, each
    * encoded to the `{"raw": <base64url MIME>}` field
    * (adapters/gmail/src/index.ts:325-337) — modeled as itemsPerBatch=1
    * over the generic retrying batcher, with [[PayloadEncoders]] carrying
    * the byte encoding and `post` the transport hook. Expects columns
    * `to`, `subject`, `body`. */
  def gmailUploadSink(df: DataFrame, maxRetries: Int = 0, retryIntervalMs: Long = 0)(
      post: String => Unit): Unit =
    foreachBatchSink(df, itemsPerBatch = 1, maxRetries, retryIntervalMs) { batch =>
      val r = batch.head
      post(PayloadEncoders.gmailRawMessage(
        r.getAs[String]("to"), r.getAs[String]("subject"), r.getAs[String]("body")))
    }

  /** Stripe create-upload (K4): the adapter accepts exactly one product
    * per upload call and form-encodes it with bracket expansion
    * (adapters/stripe/src/index.ts:438-457) — modeled as one
    * form-encoded POST per row; nested structs/arrays/maps in the row
    * expand to `k[0]`/`k[sub]` keys. */
  def stripeUploadSink(df: DataFrame, maxRetries: Int = 0, retryIntervalMs: Long = 0)(
      post: String => Unit): Unit =
    foreachBatchSink(df, itemsPerBatch = 1, maxRetries, retryIntervalMs) { batch =>
      post(PayloadEncoders.stripeFormEncode(batch.head))
    }

  /** Custom upload sink: executor-side batches of `itemsPerBatch` rows,
    * each attempted up to maxRetries+1 times with retryIntervalMs backoff
    * (reference per-batch retry loop, src/index.ts:495-517). `send` is
    * the adapter-upload hook (K4): it receives one batch and throws to
    * signal failure.
    */
  def foreachBatchSink(df: DataFrame, itemsPerBatch: Int,
                       maxRetries: Int, retryIntervalMs: Long,
                       requestsPerSecond: Double = 0.0)(
      send: Seq[Row] => Unit): Unit = {
    val batchSize = if (itemsPerBatch > 0) itemsPerBatch else Int.MaxValue
    // per-partition token interval — rate_limiting semantics of the
    // reference's page loop (src/index.ts:234-243) applied to uploads;
    // at N partitions the aggregate rate is N × requestsPerSecond, so
    // callers divide their global budget by the partition count
    val minIntervalMs = if (requestsPerSecond > 0) (1000.0 / requestsPerSecond).toLong else 0L
    df.foreachPartition { (rows: Iterator[Row]) =>
      var lastSendAt = 0L
      rows.grouped(batchSize).foreach { batch =>
        if (minIntervalMs > 0) {
          val wait = lastSendAt + minIntervalMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
        }
        retrying(maxRetries, retryIntervalMs) {
          lastSendAt = System.currentTimeMillis()
          send(batch)
        }
      }
    }
  }

  /** Run `body`, retrying a NonFatal failure up to `maxRetries` times,
    * `intervalMs` apart; `onRetry(attempt, e)` runs before each wait. A
    * fatal error or an InterruptedException (a cancelled task or job)
    * propagates at once, as does the last attempt's failure. */
  def retrying[T](maxRetries: Int, intervalMs: Long,
                  onRetry: (Int, Throwable) => Unit = (_, _) => ())(body: => T): T = {
    @annotation.tailrec
    def attempt(n: Int): T = scala.util.Try(body) match {
      case scala.util.Success(v) => v
      case scala.util.Failure(e) if n <= maxRetries =>
        onRetry(n, e)
        Thread.sleep(intervalMs)
        attempt(n + 1)
      case scala.util.Failure(e) => throw e
    }
    attempt(1)
  }
}
