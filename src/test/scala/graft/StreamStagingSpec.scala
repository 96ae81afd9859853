package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import graft.streaming.StreamOps

/** Staged stream sources: the once-per-fingerprint write memo and the
  * per-slice listing the bounded runner replays. */
class StreamStagingSpec extends SparkSpec {

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
}
