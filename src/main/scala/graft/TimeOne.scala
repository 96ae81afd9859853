package graft
object TimeOne {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.build(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(100000).selectExpr("sum(id)").collect()
    for (name <- args) {
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, "/root/testdata/sf0.1").count()
        println(f"$name run$i: ${(System.nanoTime()-t0)/1e9}%.2f s")
      }
    }
    spark.stop()
  }
}
