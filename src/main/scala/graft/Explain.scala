package graft

/** Plan-inspection helper: runs each query (or those named in args) at
  * SPARK_GRAFT_SF_DIR and prints its formatted plan — after execution, so
  * the adaptive plan shows both its initial and its FINAL form (exchange
  * shapes, ReusedExchange counts and WindowGroupLimit presence are only
  * trustworthy on the post-AQE plan) — followed by its exchange,
  * ReusedExchange and WindowGroupLimit counts.
  *
  * Usage: `SPARK_GRAFT_SF_DIR=... runMain graft.Explain [query ...]`
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = SessionBuilder.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = SparkEntry.queries(n)(spark, sfDir)
      df.queryExecution.toRdd.count() // finalize AQE
      df.explain("formatted")
      val plan = df.queryExecution.executedPlan.toString
      println(s"=== node counts: Exchange=${
        "(?<!Reused)Exchange".r.findAllIn(plan).size}, ReusedExchange=${
        "ReusedExchange".r.findAllIn(plan).size}, WindowGroupLimit=${
        "WindowGroupLimit".r.findAllIn(plan).size} ===")
    }
    spark.stop()
  }
}
