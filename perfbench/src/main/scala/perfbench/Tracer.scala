package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced passes.
  *
  * A SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * are attached for the duration of one traced pass and detached after it,
  * so untraced passes run with none of them. The harness opens op, build and
  * action spans; jobs and stages become child spans through the span id the
  * harness puts in a local property before each phase.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val lock = new Object
  val spans = mutable.ArrayBuffer[Span]()
  val counters = mutable.Map[String, Double]().withDefaultValue(0.0)
  val tasks = mutable.ArrayBuffer[(Long, Long)]()
  private val jobSpan = mutable.Map[Int, (Long, Long, String, Long)]() // job -> (span, parent, op, start)
  private val stageJob = mutable.Map[Int, Long]()                      // stage -> job span id
  private val streamState = mutable.Map[java.util.UUID, Long]()
  @volatile private var storagePeak = 0L
  @volatile private var sampling = false

  def nextId(): Long = ids.incrementAndGet()
  def add(key: String, v: Double): Unit = lock.synchronized { counters(key) += v }
  def addSpan(s: Span): Unit = lock.synchronized { spans += s }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp))).map(_.toLong).getOrElse(0L)
      val op = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val phase = props.flatMap(p => Option(p.getProperty(PhaseProp))).getOrElse("")
      jobSpan(e.jobId) = (nextId(), parent, op, e.time)
      e.stageIds.foreach(s => stageJob(s) = jobSpan(e.jobId)._1)
      counters("sched.jobs") += 1
      if (phase == "build") counters("engine.build_jobs") += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, parent, op, start) =>
        spans += Span(id, "job", s"job ${e.jobId}", start, e.time, parent, op)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val info = e.stageInfo
      counters("sched.stages") += 1
      for (s <- info.submissionTime; f <- info.completionTime)
        spans += Span(nextId(), "stage", s"stage ${info.stageId}", s, f,
          stageJob.getOrElse(info.stageId, 0L), "")
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      counters("sched.tasks") += 1
      tasks += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        counters("exec.run_ms") += m.executorRunTime
        counters("exec.cpu_ms") += m.executorCpuTime / 1e6
        counters("exec.gc_ms") += m.jvmGCTime
        counters("shuffle.write_bytes") += m.shuffleWriteMetrics.bytesWritten
        counters("shuffle.read_bytes") += m.shuffleReadMetrics.totalBytesRead
        counters("shuffle.spill_bytes") += m.memoryBytesSpilled + m.diskBytesSpilled
        counters("source.scan_bytes") += m.inputMetrics.bytesRead
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def phase(n: String): Double = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
      val plan = nodes(qe.executedPlan).toSeq
      lock.synchronized {
        counters("catalyst.analysis_ms") += phase("analysis")
        counters("catalyst.optimizer_ms") += phase("optimization")
        counters("catalyst.planning_ms") += phase("planning")
        counters("catalyst.plan_nodes") += plan.size
        counters("plans.custom_nodes") += plan.count(_.getClass.getName.startsWith("graft."))
        plan.collect { case w: DataWritingCommandExec => w }.foreach { w =>
          def metric(k: String): Double = w.cmd.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          counters("sinks.write_ms") += durationNs / 1e6
          counters("sinks.bytes_written") += metric("numOutputBytes")
          counters("sinks.files_written") += metric("numFiles")
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = lock.synchronized {
      val p = e.progress
      counters("stream.batches") += 1
      counters("stream.input_rows") += p.numInputRows
      streamState(p.id) = p.stateOperators.map(_.numRowsTotal).sum
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private def sampleStorage(): Unit = {
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    if (used > storagePeak) storagePeak = used
  }

  /** Attach every listener and start the storage sampler. */
  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    sampling = true
    val t = new Thread(() => while (sampling) { sampleStorage(); Thread.sleep(50) }, "perfbench-storage")
    t.setDaemon(true)
    t.start()
  }

  /** Drain pending events, detach, and fold in the pass's stream and storage figures. */
  def detach(): Unit = {
    org.apache.spark.perfbench.ListenerBusDrain(sc)
    sampling = false
    sampleStorage()
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    lock.synchronized {
      counters("stream.state_rows") += streamState.values.sum
      streamState.clear()
      counters("cache.storage_peak_bytes") = math.max(counters("cache.storage_peak_bytes"), storagePeak.toDouble)
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val PhaseProp = "perfbench.phase"

  /** Every physical node, looking through adaptive wrappers and subqueries. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => Iterator(q) ++ nodes(q.plan)
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(nodes) ++
        other.subqueries.iterator.flatMap(nodes)
  }

  /** Driver JVM: cumulative GC milliseconds over all collectors. */
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def resetHeapPeak(): Unit = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).foreach(_.resetPeakUsage())

  def heapPeakMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Classes compiled by whole-stage codegen in this JVM so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Process CPU seconds (all threads) as the OS reports them. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => 0.0
  }
}
