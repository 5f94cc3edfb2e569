package graft

import java.security.MessageDigest

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryUtil
import graft.scale.ArchiveScenarios

/** The scale harness: scenario lookup, the one listener's counters, the
  * ccindex leg filter, and chunked fixture generation. Runs its own
  * `local[2]` session and stops it at the end.
  */
class ScaleProbeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private def liveSessions: Seq[SparkSession] =
    Seq(SparkSession.getActiveSession, SparkSession.getDefaultSession)
      .flatten.filterNot(_.sparkContext.isStopped)

  private lazy val harness: ScaleProbe.Harness = {
    val spark = SessionBuilder.forMaster("local[2]", 2)
    new ScaleProbe.Harness(spark, "local[2]", 2)
  }

  override def beforeAll(): Unit = liveSessions.foreach(_.stop())

  override def afterAll(): Unit = liveSessions.foreach(_.stop())

  test("an unknown scenario fails before a session is built, naming the valid ones") {
    assert(liveSessions.isEmpty)
    val e = intercept[IllegalArgumentException](
      ScaleProbe.main(Array("no-such-scenario")))
    assert(e.getMessage.contains("no-such-scenario"))
    Seq("queries", "bigscale", "ccindex", "cc", "doc", "fuzzy", "media",
      "politeness", "robots", "warc").foreach { n =>
      assert(ScaleProbe.Scenarios.contains(n))
      assert(e.getMessage.contains(n), s"'$n' missing from: ${e.getMessage}")
    }
    assert(liveSessions.isEmpty, "a session was built for an unknown scenario")
  }

  test("every ccindex leg honours the leg filter") {
    val all = Seq("fetch", "revisit", "selectivity", "cdxj", "lookup")
    assert(ArchiveScenarios.ccIndexLegs(None) == all)
    all.foreach(leg => assert(ArchiveScenarios.ccIndexLegs(Some(leg)) == Seq(leg)))
    intercept[IllegalArgumentException](
      ArchiveScenarios.ccIndexLegs(Some("selectvity")))
  }

  test("the listener counts shuffle write, failed tasks and max task ms") {
    val h = harness
    val spark = h.spark

    val (_, shuffled) = h.traced(spark.range(0, 10000, 1, 2).repartition(4).count())
    assert(shuffled.shuffleWriteBytes > 0, shuffled)
    assert(shuffled.failedTasks == 0, shuffled)

    val (_, failed) = h.traced(intercept[SparkException](
      spark.sparkContext.parallelize(1 to 4, 2)
        .map(i => if (i == 3) throw new IllegalStateException("boom") else i)
        .count()))
    assert(failed.failedTasks >= 1, failed)

    val (_, slow) = h.traced(spark.sparkContext.parallelize(1 to 2, 2)
      .map { i => Thread.sleep(200); i }.count())
    assert(slow.maxTaskMs >= 200, slow)
    assert(h.trace.stages.nonEmpty && slow.jobs == 1, slow)
  }

  test("chunked generation writes the same rows as one batch") {
    val spark = harness.spark
    val base = "/root/testdata/sf0.001"
    val root = QueryUtil.scratchPath("scale-probe-spec")
    def digests(chunk: Int): Map[String, (Long, String)] = {
      val out = s"$root/chunk$chunk"
      ScaleProbe.generate(spark, base, out, factor = 3, chunk = chunk)
      ScaleProbe.AllTables.map { t =>
        val rows = spark.read.parquet(s"$out/$t.parquet").collect()
          .map(_.toString).sorted
        val md = MessageDigest.getInstance("MD5")
        rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
        t -> (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
      }.toMap
    }
    val batched = digests(2)
    val single = digests(3)
    ScaleProbe.AllTables.foreach(t =>
      assert(batched(t) == single(t), s"$t differs between chunk 2 and 3"))
    val baseDocs = spark.read.parquet(s"$base/documents.parquet").count()
    assert(single("documents")._1 == 3 * baseDocs)
    assert(single("region")._1 ==
      spark.read.parquet(s"$base/region.parquet").count())
  }
}
