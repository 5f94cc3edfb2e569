package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** spark.sql.extensions=graft.GraftExtensions must make url_resolve
  * available in SQL without explicit registration, and must inject the
  * same function set `GraftFunctions.register` adds. These tests build
  * bare sessions on purpose: the extension path is the one a session
  * that `SessionBuilder` did not build takes.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions injector registers url_resolve for SQL") {
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val got = spark.sql(
        "SELECT url_resolve('https://ex.test/a/b/', 'img/c.jpg') AS u")
        .collect()(0).getString(0)
      assert(got == "https://ex.test/a/b/img/c.jpg")
      // base-fallback variant: malformed head-base keeps the page url
      val base = spark.sql(
        "SELECT url_resolve_base('https://ex.test/a/', 'ht tp://bro ken') AS u")
        .collect()(0).getString(0)
      assert(base == "https://ex.test/a/")
      // native hash injected too, equal to the composed md5 form
      val h = spark.sql(
        """SELECT graft_h32('abc') AS n,
          |  cast(conv(substring(md5('abc'), 1, 8), 16, 10) AS bigint) AS c
          |""".stripMargin).collect()(0)
      assert(h.getLong(0) == h.getLong(1))
    } finally spark.stop()
  }

  /** The session's function names beyond Spark's built-ins. */
  private def graftNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName).toSet --
      FunctionRegistry.builtin.listFunction().map(_.funcName)

  test("the extension injects exactly the functions register adds") {
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    def bareSession(confs: (String, String)*): SparkSession =
      confs.foldLeft(SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .config("spark.ui.enabled", "false")) { case (b, (k, v)) =>
          b.config(k, v)
        }.getOrCreate()

    val bare = bareSession()
    val registered = try {
      assert(graftNames(bare).isEmpty)
      GraftFunctions.register(bare)
      graftNames(bare)
    } finally bare.stop()
    val injected = {
      val ext = bareSession("spark.sql.extensions" -> "graft.GraftExtensions")
      try graftNames(ext) finally ext.stop()
    }
    assert(registered == GraftFunctions.Table.map(_._1).toSet)
    assert(registered.size == GraftFunctions.Table.size)
    assert(injected == registered)
  }
}
