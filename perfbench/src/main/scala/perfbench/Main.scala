package perfbench

import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** The benchmark JVM: builds the session, sets up one workload, runs timed
  * passes over its operations for the given number of seconds, checks every
  * output, and writes the measured figures as one JSON file.
  *
  * Usage: Main <workload> <seed> <seconds> <trace 0|1> <dataDir> <scratchDir>
  *             <resultFile> <dataGenSeconds>
  */
object Main {
  final case class OpRun(name: String, tag: String, traced: Boolean,
                         startMs: Long, endMs: Long, ns: Long, cpuS: Double,
                         rows: Long, fp: Option[Fingerprint], error: Option[String],
                         compiles: Long)

  final case class Pass(traced: Boolean, runs: Seq[OpRun]) {
    def seconds: Double = runs.map(_.ns).sum / 1e9
  }

  /** Seconds of --seconds one timed pass of each workload is planned for: a
    * warm pass takes about 2.5 s on corpus and 3.5 s on etl_load on a 4-core
    * box.
    */
  val PassBudgetS = Map("corpus" -> 3.0, "etl_load" -> 4.0)

  /** Fixed single-threaded CPU work; its time flags a contended box. */
  def probeMs(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val md = MessageDigest.getInstance("SHA-256")
    val t0 = System.nanoTime()
    var i = 0
    while (i < 64) { md.update(buf); md.update(md.digest()); i += 1 }
    (System.nanoTime() - t0) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, scratch, resultFile, genS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.build(cpus.toString)
    System.err.println(f"[perfbench] session built ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.2f s after JVM start")
    try {
      val result = run(spark, workload, seed, seconds, trace, dataDir, scratch,
        jvmStartMs, genS.toDouble, cpus)
      val w = new java.io.PrintWriter(resultFile, "UTF-8")
      try w.println(result) finally w.close()
    } finally {
      graft.sources.rest.StubServer.stop()
      spark.stop()
    }
    System.exit(0) // a leaked non-daemon thread must not keep the JVM alive
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
          dataDir: String, scratch: String, jvmStartMs: Long,
          genS: Double, cpus: Int): String = {
    val ops: Seq[Op] = workload match {
      case "corpus" => Workloads.registry(spark, dataDir, Workloads.corpus)
      case "etl_load" => Workloads.etl(spark, dataDir, scratch, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // footer touch: the first timed read of a table does not pay for it
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").count())

    val sc = spark.sparkContext
    val firstFp = mutable.Map[String, Fingerprint]()
    var tracer: Tracer = null

    def runOp(op: Op, pass: Int, traced: Boolean): OpRun = {
      val opId = s"$pass:${op.name}"
      val opSpan = if (traced) tracer.nextId() else 0L
      def phase[T](kind: String)(body: => T): T =
        if (!traced) body
        else {
          val id = tracer.nextId()
          sc.setLocalProperty(Tracer.SpanProp, id.toString)
          sc.setLocalProperty(Tracer.PhaseProp, kind)
          val s = System.currentTimeMillis()
          try body finally {
            tracer.addSpan(Span(id, kind, op.name, s, System.currentTimeMillis(), opSpan, opId))
            sc.setLocalProperty(Tracer.SpanProp, opSpan.toString)
            sc.setLocalProperty(Tracer.PhaseProp, null)
          }
        }
      val phases = new Phases {
        def build[T](body: => T): T = phase("build")(body)
        def action[T](body: => T): T = phase("action")(body)
      }
      if (traced) {
        sc.setJobGroup(opId, op.name, interruptOnCancel = false)
        sc.setLocalProperty(Tracer.SpanProp, opSpan.toString)
      }
      val startMs = System.currentTimeMillis()
      val cpu0 = Tracer.processCpuS()
      val compiles0 = Tracer.codegenCompiles()
      val t0 = System.nanoTime()
      val outcome = try Right(op.run(phases)) catch { case e: Throwable => Left(e) }
      val ns = System.nanoTime() - t0
      val cpuS = Tracer.processCpuS() - cpu0
      val compiles = Tracer.codegenCompiles() - compiles0
      val endMs = System.currentTimeMillis()
      if (traced) {
        tracer.addSpan(Span(opSpan, "op", op.name, startMs, endMs, 0L, opId))
        sc.clearJobGroup()
        sc.setLocalProperty(Tracer.SpanProp, null)
      }
      // the output check runs after the timer stops
      val (rows, fp, error) = outcome match {
        case Left(e) => (0L, None, Some(s"threw ${e.getClass.getName}: ${e.getMessage}"))
        case Right(out) =>
          val fp = Option(out.fp)
          val err = try op.check(out) catch { case e: Throwable => Some(s"check threw $e") }
          // every pass must return what the first one did
          val mismatch = fp.flatMap { f =>
            val first = firstFp.getOrElseUpdate(op.name, f)
            if (first == f) None else Some(s"fingerprint $f, first pass returned $first")
          }
          (out.rows, fp, err.orElse(mismatch))
      }
      error.foreach(e => System.err.println(s"[perfbench] $opId failed: $e"))
      OpRun(op.name, op.tag, traced, startMs, endMs, ns, cpuS, rows, fp, error, compiles)
    }

    val traces = mutable.ArrayBuffer[(Seq[OpRun], Tracer)]()
    def runPass(index: Int, traced: Boolean): Pass = {
      if (traced) {
        tracer = new Tracer(spark)
        tracer.attach()
        Tracer.resetHeapPeak()
      }
      val gc0 = Tracer.gcMs()
      val runs = SpecGen.order(ops, seed, index).map(runOp(_, index, traced))
      if (traced) {
        tracer.detach()
        tracer.add("jvm.gc_ms", (Tracer.gcMs() - gc0).toDouble)
        tracer.add("jvm.heap_peak_mb", Tracer.heapPeakMb())
        traces += ((runs, tracer))
      }
      Pass(traced, runs)
    }

    val tablesReadyS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val warm = runPass(0, traced = false)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0 + genS
    System.err.println(f"[perfbench] setup: data $genS%.2f s, session and tables $tablesReadyS%.2f s, " +
      f"warm-up pass ${warm.seconds}%.2f s")
    val probeBefore = probeMs()

    // The pass count follows from --seconds alone, never from how fast the
    // passes ran, so every run's per-op median is taken over as many samples.
    // Traced runs alternate untraced and traced passes (U T U ...), so the
    // tracing overhead is measured in the same window.
    val passes = (1 to math.max(3, (seconds / PassBudgetS(workload)).toInt))
      .map(i => runPass(i, traced = trace && i % 2 == 0))
    val probeAfter = probeMs()

    val timed = passes.flatMap(_.runs)
    val untracedPasses = passes.filterNot(_.traced)
    val lat = timed.filterNot(_.traced).map(_.ns / 1e6)
    val p90 = Stats.tail(lat)
    val attempted = timed.size
    val failed = timed.count(_.error.nonEmpty)

    // One pass = the sum of every op's median untraced wall time, and the
    // same for CPU time. A single execution of one op moves by a third
    // between passes (JIT, GC, a contended box); the minimum of a few
    // executions follows that noise, the median of all of them much less.
    // The median latency is taken over the ops' medians: over all executions
    // it sat in the slow tail of the four short etl_load pipelines, which a
    // contended box stretches most.
    val perOp = timed.filterNot(_.traced).groupBy(_.name).values.toSeq
    val opMedianMs = perOp.map(rs => Stats.median(rs.map(_.ns / 1e6)))
    val passS = opMedianMs.sum / 1e3
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("pass_s", passS, "s"),
      ("op_p50_ms", Stats.harrellDavis(opMedianMs, 0.5), "ms"),
      ("op_p90_ms", p90.value, "ms"),
      ("cpu_s", perOp.map(rs => Stats.median(rs.map(_.cpuS))).sum, "s"),
      ("rows_per_s", perOp.map(_.head.rows).sum / passS, "1/s"))

    val perLayer: Seq[(String, Double, String)] =
      if (!trace) Nil
      else layers(traces.toSeq, cpus, probeBefore, probeAfter,
        Stats.median(passes.filter(_.traced).map(_.seconds)) - Stats.median(untracedPasses.map(_.seconds)))

    val spanSummary =
      if (!trace) "{}"
      else Json.obj(Spans.byKind(traces.flatMap(_._2.spans).toSeq).toSeq.sortBy(_._1).map {
        case (k, (n, total, self)) => k -> Json.obj(Seq(
          "n" -> n.toString, "total_ms" -> total.toString, "self_ms" -> self.toString))
      })
    val opStats = timed.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, rs) =>
      n -> Json.obj(Seq(
        "tag" -> Json.str(rs.head.tag),
        "attempted" -> rs.size.toString,
        "failed" -> rs.count(_.error.nonEmpty).toString,
        "median_ms" -> Json.num(Stats.median(rs.map(_.ns / 1e6))),
        "min_ms" -> Json.num(rs.map(_.ns / 1e6).min),
        "pass_ms" -> rs.map(r => Json.num(r.ns / 1e6)).mkString("[", ",", "]"),
        "pass_cpu_s" -> rs.map(r => Json.num(r.cpuS)).mkString("[", ",", "]"),
        "codegen_compiles" -> rs.map(_.compiles).mkString("[", ",", "]"),
        "median_cpu_s" -> Json.num(Stats.median(rs.map(_.cpuS))),
        "warmup_ms" -> warm.runs.find(_.name == n).map(r => Json.num(r.ns / 1e6)).getOrElse("null"),
        "rows" -> rs.head.rows.toString,
        "fp" -> rs.flatMap(_.fp).headOption.map(f => Json.str(f.toString)).getOrElse("null"),
        "oracle" -> graft.SparkEntry.oracleSql.get(n).map(Json.str).getOrElse("null"),
        "error" -> rs.flatMap(_.error).headOption.map(Json.str).getOrElse("null")))
    }
    def metrics(ms: Seq[(String, Double, String)]): String =
      Json.obj(ms.map { case (n, v, u) => n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "cores" -> cpus.toString,
      "passes" -> passes.size.toString,
      "untraced_passes" -> untracedPasses.size.toString,
      "pass_seconds" -> passes.map(p => Json.num(p.seconds)).mkString("[", ",", "]"),
      "op_p50_ops" -> opMedianMs.size.toString,
      "op_p90_percentile" -> Json.num(p90.p),
      "op_samples" -> p90.n.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "box_probe_ms" -> s"[${Json.num(probeBefore)},${Json.num(probeAfter)}]",
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "spans" -> spanSummary,
      "ops" -> Json.obj(opStats)))
  }

  /** Per-layer metrics, each per traced pass. */
  def layers(traces: Seq[(Seq[OpRun], Tracer)], cpus: Int, probeBefore: Double,
             probeAfter: Double, overheadS: Double): Seq[(String, Double, String)] = {
    val n = traces.size.toDouble
    def sum(k: String): Double = traces.map(_._2.counters(k)).sum
    def perPass(k: String): Double = sum(k) / n
    def maxOf(k: String): Double = traces.map(_._2.counters(k)).max
    val runs = traces.flatMap(_._1)
    def tagMs(tag: String): Double = runs.filter(_.tag == tag).map(_.ns / 1e6).sum / n
    val passMs = runs.map(_.ns / 1e6).sum / n
    val buildMs = traces.flatMap(_._2.spans).filter(_.kind == "build").map(_.ms).sum / n
    // wall time inside operations during which no task was running
    val idleMs = traces.map { case (rs, t) =>
      rs.map(r => (r.endMs - r.startMs) - Spans.unionMs(t.tasks.toSeq, r.startMs, r.endMs)).sum
    }.sum / n
    val scan = sum("source.scan_bytes")
    Seq(
      ("engine.build_ms", buildMs, "ms"),
      ("engine.build_jobs", perPass("engine.build_jobs"), "count"),
      ("codegen.compiles", runs.map(_.compiles).sum / n, "count"),
      ("catalyst.analysis_ms", perPass("catalyst.analysis_ms"), "ms"),
      ("catalyst.optimizer_ms", perPass("catalyst.optimizer_ms"), "ms"),
      ("catalyst.planning_ms", perPass("catalyst.planning_ms"), "ms"),
      ("catalyst.plan_nodes", perPass("catalyst.plan_nodes"), "count"),
      ("plans.custom_nodes", perPass("plans.custom_nodes"), "count"),
      ("sched.jobs", perPass("sched.jobs"), "count"),
      ("sched.stages", perPass("sched.stages"), "count"),
      ("sched.tasks", perPass("sched.tasks"), "count"),
      ("sched.idle_ms", idleMs, "ms"),
      ("exec.run_ms", perPass("exec.run_ms"), "ms"),
      ("exec.cpu_ms", perPass("exec.cpu_ms"), "ms"),
      ("exec.gc_ms", perPass("exec.gc_ms"), "ms"),
      ("exec.busy_ratio", perPass("exec.run_ms") / (passMs * cpus), "ratio"),
      ("ops.dedup_ms", tagMs("dedup"), "ms"),
      ("ops.similarity_ms", tagMs("similarity"), "ms"),
      ("ops.text_ms", tagMs("text"), "ms"),
      ("ops.graph_ms", tagMs("graph"), "ms"),
      ("ops.ann_ms", tagMs("ann"), "ms"),
      ("shuffle.write_bytes", perPass("shuffle.write_bytes"), "bytes"),
      ("shuffle.read_bytes", perPass("shuffle.read_bytes"), "bytes"),
      ("shuffle.spill_bytes", perPass("shuffle.spill_bytes"), "bytes"),
      ("cache.storage_peak_bytes", maxOf("cache.storage_peak_bytes"), "bytes"),
      ("sinks.write_ms", perPass("sinks.write_ms"), "ms"),
      ("sinks.bytes_written", perPass("sinks.bytes_written"), "bytes"),
      ("sinks.files_written", perPass("sinks.files_written"), "count"),
      ("sinks.write_amp", if (scan > 0) sum("sinks.bytes_written") / scan else 0.0, "ratio"),
      ("upsert.ms", tagMs("upsert"), "ms"),
      ("stream.ms", tagMs("stream"), "ms"),
      ("stream.batches", perPass("stream.batches"), "count"),
      ("stream.input_rows", perPass("stream.input_rows"), "count"),
      ("stream.state_rows", perPass("stream.state_rows"), "count"),
      ("source.scan_bytes", scan / n, "bytes"),
      ("source.rest_ms", tagMs("rest"), "ms"),
      ("jvm.gc_ms", perPass("jvm.gc_ms"), "ms"),
      ("jvm.heap_peak_mb", maxOf("jvm.heap_peak_mb"), "MB"),
      ("box.probe_ms", (probeBefore + probeAfter) / 2, "ms"),
      ("trace.overhead_s", overheadS, "s"))
  }
}

/** Minimal JSON text builders; values passed to `obj` are already JSON. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
