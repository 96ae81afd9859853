package graft.engine

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.sinks.Sinks

/** The E→T→L driver — Spark analogue of the reference's runPipeline
  * (src/index.ts:358-555; SURVEY §2.9/§3). Faithful observable
  * semantics:
  *
  *  - typed, timestamped events with dataCount at each stage boundary
  *    (start/extract/transform/load/complete/error — src/types.ts:267-272)
  *  - validation: a pipeline needs a source (src/index.ts:371-373)
  *  - onload / onbeforesend hooks; onbeforesend may REPLACE the dataset
  *    or VETO the load (src/types.ts:284-285, src/index.ts:443-450)
  *  - per-run retry bounds from ErrorHandling (src/index.ts:376-379)
  *
  * Structurally different on purpose: the plan is lazy — extract,
  * transform and load are one Spark job with a single action at the
  * sink, and the row count is captured by `observe` on that same action
  * (no extra count() pass). The reference's page loop (materialize all
  * rows in driver memory, src/index.ts:222-286) has no analogue: rows
  * never visit the driver.
  */
final class PipelineRunner(spark: SparkSession, sourceDir: String,
                           log: PipelineEvent => Unit = _ => ()) {

  final case class RunResult(rows: Long, loaded: Boolean, events: Seq[String])

  def run(p: PipelineSpec,
          onload: DataFrame => Unit = _ => (),
          onbeforesend: DataFrame => Option[DataFrame] = df => Some(df),
          onupload: () => Unit = () => ()): RunResult =
    // O7 guaranteed cleanup (src/index.ts:537-552) extended to STORAGE:
    // any op-internal persist acquired while building/running this
    // pipeline (dedup shingle tables, decontamination n-gram caches, ...)
    // is released when the run returns or throws — a long-lived runner
    // invoking corpus ops in sequence holds no storage across runs.
    graft.ops.CacheScope.scoped { runInScope(p, onload, onbeforesend, onupload) }

  private def runInScope(p: PipelineSpec,
          onload: DataFrame => Unit,
          onbeforesend: DataFrame => Option[DataFrame],
          onupload: () => Unit): RunResult = {
    val events = scala.collection.mutable.ArrayBuffer[String]()
    def emit(t: String, msg: String, n: Option[Long] = None): Unit = {
      events += t
      log(PipelineEvent(t, msg, n))
    }

    emit("start", "pipeline started")
    try {
      val connector = p.source.getOrElse(
        throw new IllegalArgumentException("Pipeline must have a source")) // src/index.ts:371-373

      // EXTRACT+TRANSFORM: one lazy plan (QueryBuilder applies the
      // transform fold in-plan)
      val df = QueryBuilder.build(spark, sourceDir, connector)
      emit("extract", s"plan bound for table ${connector.table}")
      emit("transform", s"${connector.transformations.size} transformations applied")

      onload(df) // reference onload hook (src/index.ts:430)

      p.target match {
        case None =>
          // download-only pipeline: count is the action
          val n = df.count()
          emit("complete", "download-only pipeline complete", Some(n))
          RunResult(n, loaded = false, events.toSeq)
        case Some(sink) =>
          onbeforesend(df) match { // may replace or veto (src/index.ts:443-450)
            case None =>
              emit("complete", "load vetoed by onbeforesend", Some(0))
              RunResult(0, loaded = false, events.toSeq)
            case Some(toLoad) =>
              val obs = Observation()
              val observed = toLoad.observe(obs, count(lit(1)).as("rows"))
              // NOTE: retry re-runs the whole Sinks.write, which is safe
              // only for idempotent sinks (overwrite-mode file formats,
              // where a failed partial attempt is replaced wholesale).
              // For append-mode or JDBC sinks a partial failed attempt
              // followed by a successful retry could duplicate rows — the
              // reference retries per-BATCH instead
              // (adapters/hubspot/src/index.ts:506-519); our per-batch
              // analogue is Sinks.foreachBatchSink's bounded retry.
              Sinks.retrying(p.errorHandling.maxRetries, p.errorHandling.retryIntervalMs,
                  (attempt, e) => emit("error", s"load attempt $attempt failed: ${e.getMessage} — retrying")) {
                Sinks.write(observed, sink)
              }
              val n = obs.get("rows").asInstanceOf[Long]
              emit("load", s"written to ${sink.format}:${sink.path}", Some(n))
              onupload() // post-load hook (pipeline.onupload?.(), src/index.ts:526)
              emit("complete", "pipeline complete", Some(n))
              RunResult(n, loaded = true, events.toSeq)
          }
      }
    } catch {
      case e: Throwable =>
        emit("error", e.getMessage)
        throw e
    }
  }
}
