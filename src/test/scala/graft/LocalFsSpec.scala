package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.fs.{FileContext, FileSystem, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.ops.BucketedTarget

/** The session's `file:` scheme writes without forking a child process
  * per file, and writes what Hadoop's stock local file system writes.
  *
  * A JFR `jdk.ProcessStart` census runs around three write shapes: a
  * `partitionBy` parquet write, two bucketed upserts, and an AvailableNow
  * file stream whose `foreachBatch` lands parquet under a checkpoint.
  * A `file:` FileSystem cached before the session registered its class
  * would show up here as `chmod` starts.
  */
class LocalFsSpec extends SparkSpec {

  /** Commands of every process the JVM starts while `body` runs. */
  private def processStarts(body: => Unit): Seq[String] = {
    val cmds = new ConcurrentLinkedQueue[String]()
    val flushes = new AtomicInteger()
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart")
      rs.onEvent("jdk.ProcessStart", e => { cmds.add(e.getString("command")); () })
      rs.onFlush(() => { flushes.incrementAndGet(); () })
      rs.startAsync()
      body
      // two flushes that began after `body` returned: every event it
      // emitted has been dispatched
      val seen = flushes.get()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (flushes.get() < seen + 2 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(flushes.get() >= seen + 2, "JFR stream did not flush")
    } finally rs.close()
    cmds.asScala.toSeq
  }

  private def program(cmd: String): String =
    Paths.get(cmd.trim.split("\\s+").head).getFileName.toString

  private def walk(root: String): Seq[java.nio.file.Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.toList finally s.close()
  }

  test("writes, upserts and a checkpointed stream start no chmod/readlink/ls; modes unchanged") {
    val base = Files.createTempDirectory("graft_localfs").toString
    val (parts, target, src, land, ckpt) =
      (s"$base/parts", s"$base/target", s"$base/src", s"$base/land", s"$base/ckpt")
    val starts = processStarts {
      spark.range(200).withColumn("p", col("id") % 3)
        .write.partitionBy("p").parquet(parts)

      val bt = new BucketedTarget(spark, target, 4, keys = Seq("k"), versionCols = Seq("v"))
      bt.upsert(spark.range(100).select(col("id").as("k"), lit(0L).as("v")))
      bt.upsert(spark.range(50, 150).select(col("id").as("k"), lit(1L).as("v")))
      assert(bt.read().count() == 150)

      spark.range(60).repartition(2).write.parquet(src)
      val q = spark.readStream.schema(spark.range(0).schema).parquet(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          b.write.mode("append").parquet(land)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      assert(spark.read.parquet(land).count() == 60)

      // the census sees a process this JVM starts
      new ProcessBuilder("true").start().waitFor()
    }
    assert(starts.map(program).contains("true"), s"census missed a process start: $starts")
    // Spark's own JavaUtils.deleteRecursively forks `rm -rf`; not a file-system call
    val forks = starts.map(program).filter(Set("chmod", "readlink", "ls"))
    assert(forks.isEmpty, s"${forks.size} forks: ${starts.filter(c => forks.contains(program(c))).take(5)}")

    val written = Seq(parts, target, src, land, ckpt).flatMap(walk)
    assert(written.exists(_.getFileName.toString.endsWith(".crc")))
    assert(written.exists(_.toString.contains("/ckpt/offsets/")))
    val modes = written.map { p =>
      val expect = if (Files.isDirectory(p)) "rwxr-xr-x" else "rw-r--r--"
      (p, expect, PosixFilePermissions.toString(Files.getPosixFilePermissions(p)))
    }
    val wrong = modes.filter { case (_, e, m) => e != m }
    assert(wrong.isEmpty, s"${wrong.size} of ${modes.size} modes differ: ${wrong.take(5)}")
  }

  test("getFileLinkStatus still reports a symlink and its target") {
    val base = Files.createTempDirectory("graft_localfs_link")
    val file = Files.write(base.resolve("data.parquet"), Array[Byte](1, 2, 3))
    val link = Files.createSymbolicLink(base.resolve("link.parquet"), file)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI("file:///"), conf)
    assert(fs.getClass == classOf[graft.engine.ForkFreeLocalFileSystem])
    val fc = FileContext.getFileContext(conf)
    for (st <- Seq(fs.getFileLinkStatus(new Path(link.toString)),
                   fc.getFileLinkStatus(new Path(link.toString)))) {
      assert(st.isSymlink)
      assert(st.getSymlink == new Path("file:" + file.toString))
    }
    val plain = fs.getFileLinkStatus(new Path(file.toString))
    assert(!plain.isSymlink && plain.getLen == 3)
  }
}
