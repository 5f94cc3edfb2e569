package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bench loop must be crash-proof per query: BENCH_r08 shipped as
  * rc=1 with NO totals because one analyzer error escaped, and the blind
  * round is how a real regression went unnoticed. A deliberately-broken
  * query must degrade to a named `failed` entry + a null headline while
  * every other query still reports — and the artifact must always
  * render.
  */
class BenchSpec extends AnyFunSuite with SparkTestBase {

  private val good: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).select(col("id"))
  private val analyzerError: (SparkSession, String) => DataFrame =
    (s, _) => s.range(10).select(col("no_such_column"))
  private val runtimeError: (SparkSession, String) => DataFrame =
    // passes analysis, dies at execution (ANSI division only fails on
    // the actual zero row) — the other failure class the loop must eat
    (s, _) => s.range(3).select((lit(1) / (col("id") - 1)).cast("long").as("x"))

  test("a broken query yields a complete artifact naming it") {
    val qs = Seq("q_ok" -> good, "q_broken" -> analyzerError,
      "q_dies_at_runtime" -> runtimeError)
    val (results, failed) = Bench.timeQueries(spark, qs, "/unused", passes = 2)

    assert(results.map(_._1) == Seq("q_ok", "q_broken", "q_dies_at_runtime"))
    assert(results.find(_._1 == "q_ok").get._2.size == 2,
      "the healthy query must keep both passes")
    assert(results.find(_._1 == "q_broken").get._2.isEmpty)
    assert(failed.keySet == Set("q_broken", "q_dies_at_runtime"))
    assert(failed("q_broken").nonEmpty, "failure must carry a message")

    val art = Bench.renderArtifact(results, failed, "/unused")
    // the artifact is one valid JSON object that names every query and
    // reports the broken one as null (never 0.0 — that would read as a
    // speedup to the baseline comparator)
    assert(art.contains("\"q_broken\":null"))
    assert(art.contains("\"q_ok\":0."))
    assert(art.contains("\"failed\":{"))
    assert(art.contains("\"q_broken\":\""))
  }

  test("a clean run renders an empty failed object") {
    val (results, failed) =
      Bench.timeQueries(spark, Seq("q_ok" -> good), "/unused", passes = 1)
    assert(failed.isEmpty)
    val art = Bench.renderArtifact(results, failed, "/unused")
    assert(art.contains("\"failed\":{}"))
  }

  test("the sidecar stamp is the resolved master's core count") {
    def cores(m: String) = Bench.masterCores(m, reported = -1)
    assert(cores("local") == 1)
    assert(cores("local[8]") == 8)
    assert(cores("local[32, 3]") == 32)
    assert(cores("local[*]") == Runtime.getRuntime.availableProcessors())
    assert(cores("local-cluster[4,4,4096]") == 16)
    assert(cores("spark://host:7077") == -1)
  }
}
