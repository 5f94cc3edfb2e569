package graft.tools

import java.security.MessageDigest

import scala.jdk.CollectionConverters._

/** Fault-injection probe: the resilience story, EXERCISED instead of
  * configured. The reference survives flaky infrastructure via retry
  * (fetch retry ×10, `spark.task.maxFailures` 10 —
  * /root/reference/cc2dataset/spark_session_builder.py:44,
  * main.py:190-199); this engine mirrors those knobs
  * (SessionBuilder) and unit-tests the fetch retry, but until
  * this probe nothing ever KILLED an executor mid-query and checked the
  * answer. Here: a `local-cluster[4,8,N]` session (4 separate executor
  * JVMs, real serialized shuffle), each probed query is run once clean,
  * then re-run with one executor JVM destroyed (SIGKILL) while its
  * tasks are actively running — losing both the running tasks and that
  * executor's on-disk shuffle output, so recovery needs task retry AND
  * FetchFailed-driven stage resubmission, with the standalone worker
  * relaunching the executor underneath. PASS = the faulted run's
  * row-hash equals the clean run's and at least one task failure or
  * executor removal was observed (a kill that landed between stages
  * proves nothing).
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *   SPARK_SCALA_VERSION=2.13 SPARK_HOME=/opt/spark \
  *   sbt "runMain graft.tools.FaultProbe"
  * Exit code 0 only if every probed query survives hash-identical.
  */
object FaultProbe {

  /** Executor JVMs are children of this (driver) process in
    * local-cluster mode — the in-process standalone workers fork
    * CoarseGrainedExecutorBackend processes. ProcessHandle's
    * commandLine() truncates at 4 KB (the executor classpath argument
    * alone is longer, so the main-class name never survives the cut);
    * read /proc/<pid>/cmdline directly instead.
    */
  private def executorHandles(): Seq[ProcessHandle] =
    ProcessHandle.current().descendants().iterator.asScala
      .filter { p =>
        try new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"/proc/${p.pid()}/cmdline")), "UTF-8")
          .contains("CoarseGrainedExecutorBackend")
        catch { case _: Exception => false }
      }
      .toSeq

  /** Order-insensitive md5 over the full result (rows sorted by their
    * rendered form — the probe compares a query to ITSELF, so any
    * stable rendering works).
    */
  private def hashOf(df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = MessageDigest.getInstance("MD5")
    rows.foreach(r => md.update(r.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.SessionBuilder.forMaster("local-cluster[4,8,4096]")
    spark.sparkContext.setLogLevel("ERROR")
    val trace = graft.obs.QueryTrace.attach(spark)

    // multi-stage, several-second queries whose plans span shuffles in
    // both directions (so the lost executor's map output matters):
    // Ed-Join (8 exchanges), the MinHash/LSH chain, and a TPC-H join agg
    val probed = Seq("q_fuzzy_pairs", "q_dedup_minhash", "q5_region_revenue")
    var ok = true
    for (name <- probed) {
      val fn = graft.SparkEntry.queries(name)
      val (cleanRows, cleanHash) = hashOf(fn(spark, sfDir))

      trace.reset()
      val killer = new Thread(() => {
        // wait until tasks of THIS run are actually on executors, then
        // SIGKILL one executor JVM (taking its shuffle files with it)
        val tracker = spark.sparkContext.statusTracker
        var armed = false
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (!armed && System.nanoTime() < deadline) {
          val active = tracker.getActiveStageIds
          if (active.nonEmpty &&
              active.exists(id => tracker.getStageInfo(id)
                .exists(_.numActiveTasks > 0))) armed = true
          else Thread.sleep(20)
        }
        executorHandles().headOption match {
          case Some(h) =>
            println(s"[fault-probe] $name: killing executor pid=${h.pid()}")
            h.destroyForcibly()
          case None =>
            println(s"[fault-probe] $name: NO executor process found")
        }
      }, s"fault-killer-$name")
      killer.setDaemon(true)
      killer.start()
      val t0 = System.nanoTime()
      val (faultRows, faultHash) = hashOf(fn(spark, sfDir))
      val wall = (System.nanoTime() - t0) / 1e9
      killer.join(1000)
      graft.obs.QueryTrace.settle()
      val failedTasks = trace.counters.failedTasks
      val removedExecutors = trace.counters.executorsRemoved
      val injected = failedTasks > 0 || removedExecutors > 0
      val same = faultHash == cleanHash && faultRows == cleanRows
      println(f"[fault-probe] $name rows=$faultRows/$cleanRows " +
        f"hashMatch=$same failedTasks=$failedTasks " +
        f"removedExecutors=$removedExecutors faultWall=$wall%.1f s " +
        (if (same && injected) "PASS"
         else if (same) "INCONCLUSIVE (kill landed between stages)"
         else "FAIL"))
      if (!same || !injected) ok = false
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
