package graft

import org.apache.spark.sql.SparkSession

/** The one local session recipe, shared by every main (Verify, Bench,
  * ScaleCurve, GenScale, PlanDump, CcBench, TimeOne), the benchmark
  * harness and the test harness (SparkSpec), so a config change — an
  * ANSI pin, the nanos normalization — can never skew one tool against
  * the others. It is also the only place graft's SQL functions,
  * optimizer rules and top-k strategy are installed
  * (GraftExtensions): every session has all of them from its first
  * query, so no plan depends on which query ran first.
  */
object GraftSession {
  def build(cpus: String, adaptive: Boolean = true): SparkSession = {
    // streaming temp checkpoints → tmpfs scratch (see Staging): the
    // fsync-heavy offset/commit/state metadata of every bounded
    // AvailableNow run stops touching the disk. spark.local.dir is
    // pinned to the PREVIOUS tmpdir so shuffle/spill scratch stays on
    // disk — RAM-backing multi-GB shuffle files during the sf1 sweep
    // would gamble the box's memory, the metadata never does.
    val diskTmp = graft.engine.Staging.redirectTmpToScratch()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", diskTmp)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet stores timestamp[ns]; read as long, normalized to
      // TimestampType in QueryBuilder.scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // pinned: the simhash lane-packing overflow guard (Dedup.scala)
      // relies on ANSI sum-overflow semantics as its backstop
      .config("spark.sql.ansi.enabled", "true")
      .config("spark.sql.adaptive.enabled", adaptive.toString)
      .getOrCreate()
    graft.functions.GraftExtensions.install(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Two-JSON-line artifact emit: stdout (summary line FIRST, so no
    * capture window can truncate it away) plus a best-effort file copy.
    */
  def emitJsonLines(path: String, lines: Seq[String]): Unit = {
    lines.foreach(println)
    try {
      val w = new java.io.PrintWriter(path)
      try lines.foreach(w.println) finally w.close()
    } catch { case _: Throwable => } // never fail the run on an unwritable CWD
  }
}
