package graft.tools

/** Per-stage empirical profiler for a named query (optimization guide
  * §1.1: find WHERE the time goes before touching anything). Runs the
  * named queries once at SPARK_GRAFT_WARM_DIR (codegen warmup), then
  * once at SPARK_GRAFT_SF_DIR under a stage listener, and prints every
  * stage's wall duration, task count, executor-run/CPU totals and
  * shuffle bytes, plus the job count — the number that dominates
  * iterative tiny-data queries where per-job/stage scheduling overhead,
  * not data, is the cost.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.tools.QueryProfile q_ann_pq_recall ..."
  * The session's master is `SPARK_GRAFT_MASTER` (default
  * `local[SPARK_GRAFT_CPUS]`), as for every `ScaleProbe` scenario.
  */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    val (master, cpus) = graft.ScaleProbe.masterFromEnv()
    val spark = graft.SessionBuilder.forMaster(master, cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val trace = graft.obs.QueryTrace.attach(spark)

    graft.wat.WatFixture.ensureFleet()
    graft.wat.WatFixture.ensureSingle()
    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warmup: codegen compile + fixture generation out of the numbers
      try fn(spark, warmDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup $name failed: $e") }
      // a first sf0.1 pass too, mirroring bench min-of-2 steady state
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case e: Throwable => () }

      trace.reset()
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      graft.obs.QueryTrace.settle()
      val rows = trace.stages
      val jobs = trace.counters.jobs

      println(f"%n===== $name: wall=$wall%.3f s, jobs=$jobs, stages=${rows.size} =====")
      println(f"${"job"}%4s ${"stage"}%6s ${"tasks"}%5s ${"wallMs"}%7s " +
        f"${"runMs"}%7s ${"cpuMs"}%7s ${"shRdMB"}%8s ${"shWrMB"}%8s  name")
      rows.sortBy(-_.wallMs).foreach { r =>
        println(f"${r.jobId}%4d ${r.stageId}%6d ${r.numTasks}%5d " +
          f"${r.wallMs}%7d ${r.runMs}%7d ${r.cpuMs}%7d " +
          f"${r.shuffleReadBytes / 1e6}%8.2f " +
          f"${r.shuffleWriteBytes / 1e6}%8.2f  ${r.name}")
      }
      val totWall = rows.map(_.wallMs).sum
      println(f"stage wall sum=${totWall / 1000.0}%.3f s " +
        f"(gaps = driver/planning = ${wall - totWall / 1000.0}%.3f s)")
    }
    spark.stop()
  }
}
