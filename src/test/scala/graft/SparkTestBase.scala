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
}
