package graft

import java.util.concurrent.{Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sf001 = "/root/testdata/sf0.001"

  /** Spark jobs started by `body` on this thread. A marker job after it
    * flushes the listener queue, which delivers events in order.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val marker = new Semaphore(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("graft.probe")).orNull match {
          case "body"   => jobs.incrementAndGet()
          case "marker" => marker.release()
          case _        =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty("graft.probe", "body")
      val out = try body finally sc.setLocalProperty("graft.probe", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.tryAcquire(30, TimeUnit.SECONDS), "listener queue did not drain")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty("graft.probe", null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpec {
  /** The mains' recipe (GraftSession), at 4 cores / 4 shuffle partitions. */
  lazy val session: SparkSession = GraftSession.build("4")
}
