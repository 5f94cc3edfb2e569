package graft

import org.apache.spark.sql.SparkSession

/** One session per suite; suites run sequentially (build.sbt) because the
  * pipeline suite restarts sessions (C3 parity). Tests run the product's
  * session configuration: `SessionBuilder.local` at 4 cores.
  */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.fresh()
}

object SparkTestBase {
  def fresh(): SparkSession = SessionBuilder.local(4, appName = "graft-test")

  /** The `corruptArchives` metric of the archive scan in `df`'s executed
    * plan, read after an action on `df` itself has run.
    */
  def corruptArchives(df: org.apache.spark.sql.Dataset[_]): Long = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec =>
      b.metrics("corruptArchives").value
    }.get
  }
}
