package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-run benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR,
  * one JSON line. Warmup runs table counts plus EVERY query once at
  * SPARK_GRAFT_WARM_DIR (default sf0.001) through the same toRdd sink,
  * pulling session init, file listing, and per-query whole-stage-codegen
  * compilation out of the timed pass so the numbers reflect steady-state
  * execution. Each query then reports the MIN over
  * SPARK_GRAFT_BENCH_PASSES (default 2) timed runs, so a transient
  * host-contention spike can't masquerade as a plan regression.
  *
  * Crash isolation: every query pass runs inside its own try/catch — a
  * single analyzer error (the r8 blind round: one fixture-schema drift
  * zeroed the whole artifact) degrades to a `"failed":{name:message}`
  * entry and a null headline for that query; the JSON line and sidecar
  * are ALWAYS emitted. BenchSpec pins this with a deliberately-broken
  * query.
  *
  * Two outputs:
  *  - `tools/bench_full_latest.json` (repo-anchored): the COMPLETE
  *    artifact — per-query wall + process-CPU seconds, per-pass
  *    [wall, cpu] pairs, failures. The harness that records the stdout
  *    of this main keeps only a bounded tail, which clipped the first
  *    half of a 103-query map; a file the harness can't truncate is the
  *    canonical record, and `tools/check_bench.py` follows the stdout
  *    line's "sidecar" pointer to it. A SPARK_GRAFT_BENCH_ONLY-filtered
  *    run (comma-separated query names, for per-operator iteration)
  *    writes `tools/bench_partial_latest.json` instead so the canonical
  *    artifact never holds a partial battery.
  *  - stdout: ONE SHORT JSON line (totals + the slowest queries +
  *    sidecar path) sized to survive the tail clip and stay parseable.
  *
  * CPU seconds are whole-process (OperatingSystemMXBean.getProcessCpuTime
  * deltas — all 32 executor threads + GC). In local mode that makes
  * host contention decidable from the artifact alone: a contended run
  * inflates wall while CPU stays at the quiet-host level (the work is
  * the same, the host just schedules it late), whereas a plan regression
  * inflates both together.
  */
object Bench {

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Process CPU time in seconds (monotonic; -1 if unavailable). */
  private def cpuSec(): Double = osBean.getProcessCpuTime / 1e9

  /** Time each query as `passes` (wall, processCpu) pairs through the
    * honest toRdd sink. Failure of one pass never touches another
    * query: the first failure per query is recorded (name -> message)
    * and that pass yields no sample. Pure function of its inputs —
    * BenchSpec drives it with a deliberately-broken query.
    */
  def timeQueries(spark: SparkSession,
      queries: Seq[(String, (SparkSession, String) => DataFrame)],
      sfDir: String, passes: Int)
      : (Seq[(String, Seq[(Double, Double)])], Map[String, String]) = {
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val results = queries.map { case (name, fn) =>
      val times: Seq[(Double, Double)] = (1 to passes).flatMap { _ =>
        val c0 = cpuSec()
        val t0 = System.nanoTime()
        // toRdd.count() materializes every output column through the full
        // physical plan; a plain .count() would let Catalyst prune the
        // projection (e.g. the md5 uid in q_wat_extract becomes dead code)
        // and under-report real full-row cost
        try {
          fn(spark, sfDir).queryExecution.toRdd.count()
          Some(((System.nanoTime() - t0) / 1e9, cpuSec() - c0))
        } catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
              .linesIterator.next().take(200)
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          None
        }
      }
      (name, times)
    }
    (results, failed.toMap)
  }

  private def jstr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Render the COMPLETE artifact JSON (one line, no trailing newline). */
  def renderArtifact(results: Seq[(String, Seq[(Double, Double)])],
      failed: Map[String, String], sfDir: String): String = {
    def f3(v: Double) = f"$v%.3f"
    // headline per query = min-wall pass (a transient contention spike
    // lands on one pass, the min is steady-state); every pass's
    // [wall, cpu] is ALSO emitted so a reader can separate contention
    // (pass variance, wall up with cpu flat) from plan regression (all
    // passes slow in both). A query with zero successful passes reports
    // null, never 0.0 — a 0.0 would read as a huge speedup to a baseline
    // comparator instead of a failure.
    val best = results.map { case (k, ts) => (k, ts.minByOption(_._1)) }
    val qs = best.map { case (k, b) =>
      jstr(k) + ":" + b.map(p => f3(p._1)).getOrElse("null")
    }.mkString("{", ",", "}")
    val cpuJson = best.map { case (k, b) =>
      jstr(k) + ":" + b.map(p => f3(p._2)).getOrElse("null")
    }.mkString("{", ",", "}")
    val passJson = results.map { case (k, ts) =>
      jstr(k) + ":" +
        ts.map(p => s"[${f3(p._1)},${f3(p._2)}]").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failed
      .map { case (k, msg) => jstr(k) + ":" + jstr(msg) }
      .mkString("{", ",", "}")
    val total = best.flatMap(_._2.map(_._1)).sum
    val cpuTotal = best.flatMap(_._2.map(_._2)).sum
    s"""{"metric":"total","value":${f3(total)},"unit":"sec","cpu_sec":${f3(cpuTotal)},"queries":$qs,"cpu":$cpuJson,"passes":$passJson,"failed":$failedJson,"sf":"$sfDir"}"""
  }

  /** Cores the resolved master runs tasks on, which stamps the per-core
    * sidecar: [[SessionBuilder.masterCores]], and for any other master
    * the parallelism the context reports.
    */
  def masterCores(master: String, reported: => Int): Int =
    SessionBuilder.masterCores(master).getOrElse(reported)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // SPARK_GRAFT_MASTER switches execution regime, exactly as in
    // Verify/ScaleProbe: `local-cluster[n,c,m]` runs n separate
    // executor JVMs with real serialized inter-executor shuffle — the
    // regime a deployment actually hits, which local[*]'s
    // shared-memory pass-through never exercises
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    val spark = SessionBuilder.forMaster(master, cpus.toInt)
    // ERROR, not WARN: the benign bounded-domain WindowExec warning
    // (q_token_budget's <=2001-row class window) repeats per pass and
    // flooded the driver's bounded stdout capture in r10 — the short
    // JSON line was clipped out of the recorded tail (BENCH_r10.json
    // "parsed": null). The artifact must outrank cosmetic log noise.
    spark.sparkContext.setLogLevel("ERROR")

    // optional per-operator iteration filter (comma-separated names);
    // a filtered run must never overwrite the canonical full artifact
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queryMap = only match {
      case Some(f) =>
        val known = SparkEntry.queries.filter { case (k, _) => f(k) }
        val unknown = f -- known.keySet
        if (unknown.nonEmpty)
          // a typo'd filter must not masquerade as a clean empty run
          System.err.println(
            s"[bench] SPARK_GRAFT_BENCH_ONLY names not in SparkEntry." +
              s"queries: ${unknown.toSeq.sorted.mkString(", ")}")
        known
      case None => SparkEntry.queries
    }

    // warmup: touch every fixture table, then run EVERY query once at
    // the smallest scale — whole-stage codegen compiles per generated
    // class, so the timed pass measures steady-state execution instead
    // of charging each query its one-time janino compile (~1-2 s for the
    // biggest plans)
    // the warmup prelude must never kill the run: a fixture-schema drift
    // here (r8: events.ts changed physical type under us) would otherwise
    // zero the ENTIRE artifact instead of failing the affected queries,
    // which the timed loop already reports per-query
    def warmTouch(what: String)(body: => Unit): Unit =
      try body catch {
        case e: Throwable =>
          System.err.println(s"[bench] warmup touch $what failed: $e")
      }
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").foreach { t =>
      warmTouch(t)(spark.read.parquet(s"$sfDir/$t.parquet").count())
    }
    warmTouch("events")(graft.queries.QueryUtil.events(spark, sfDir).count())
    // materialize synthetic WAT fixtures outside the timed window — on a
    // cold container generation would otherwise inflate the first
    // extraction query's number
    warmTouch("wat-fleet")(graft.wat.WatFixture.ensureFleet())
    warmTouch("wat-single")(graft.wat.WatFixture.ensureSingle())
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    queryMap.foreach { case (name, fn) =>
      try fn(spark, warmDir).queryExecution.toRdd.count()
      catch {
        case e: Throwable =>
          // a silently-skipped warmup would re-absorb janino compile
          // costs into the timed numbers — say so
          System.err.println(s"[bench] warmup $name failed ($warmDir): $e")
      }
    }

    // each query is timed as the MIN of `passes` runs: a transient
    // CPU-contention spike on the bench host (observed 2-20x inflation on
    // individual queries in shared-machine runs) lands on one pass, not
    // both, and the min reports the query's real steady-state cost
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val (results, failed) =
      timeQueries(spark, queryMap.toSeq.sortBy(_._1), sfDir, passes)
    val full = renderArtifact(results, failed, sfDir)

    // canonical artifact: the full per-query map, written where the
    // stdout-tail clip can't reach it (repo-anchored, committed per round)
    val sidecarRel =
      if (only.isDefined) "tools/bench_partial_latest.json"
      // a non-default master (multi-JVM local-cluster) measures a
      // different regime — it must never overwrite the canonical
      // local[32] artifact the regression gate reads. Route on the
      // RESOLVED value, not env presence: exporting the default
      // local[32] explicitly is still a canonical run (an env-presence
      // key made close_round.sh fail on a missing full sidecar)
      else if (master != s"local[$cpus]")
        "tools/bench_cluster_latest.json"
      else "tools/bench_full_latest.json"
    val sidecar = new java.io.File(graft.wat.WatFixture.repoRoot, sidecarRel)
    try {
      java.nio.file.Files.write(sidecar.toPath,
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $sidecar: $e")
    }
    // core-count-stamped copy: the driver benches the SAME tree at two
    // core counts back to back, and the second run's `_latest` write
    // destroyed the first run's full artifact (r21: the 8-core pass
    // clobbered the 32-core per-query map, leaving PERF per_query/
    // scaling empty). A per-cpus filename keeps both runs' complete
    // artifacts on disk for the round's comparison.
    // stamped with the cores the session really got, which need not be
    // SPARK_GRAFT_CPUS under an explicit SPARK_GRAFT_MASTER
    val stampCores = masterCores(spark.sparkContext.master,
      spark.sparkContext.defaultParallelism)
    val stamped = new java.io.File(graft.wat.WatFixture.repoRoot,
      sidecarRel.stripSuffix(".json") + s"_c$stampCores.json")
    try {
      java.nio.file.Files.write(stamped.toPath,
        (full + "\n").getBytes("UTF-8"))
    } catch { case e: Exception =>
      System.err.println(s"[bench] could not write $stamped: $e")
    }

    // stdout: short enough to survive a bounded tail capture — totals,
    // failures, and the slowest queries only; the sidecar has everything
    def f3(v: Double) = f"$v%.3f"
    val best = results.map { case (k, ts) => (k, ts.minByOption(_._1)) }
    val total = best.flatMap(_._2.map(_._1)).sum
    val cpuTotal = best.flatMap(_._2.map(_._2)).sum
    val failedJson = failed
      .map { case (k, msg) => jstr(k) + ":" + jstr(msg) }
      .mkString("{", ",", "}")
    val slowest = best.collect { case (k, Some((w, _))) => (k, w) }
      .sortBy(-_._2).take(12)
      .map { case (k, w) => jstr(k) + ":" + f3(w) }
      .mkString("{", ",", "}")
    // the FULL per-query seconds map, in the line itself: the driver's
    // PERF comparison reads the stdout line, not the sidecar, so the
    // 12-slowest summary left per_query/geomean/scaling empty in r21.
    // 221 entries ≈ 5 KB — well inside the harness's bounded tail now
    // that the log level is ERROR (the r10 clip was WARN flooding, not
    // line length). `null` for a query with zero successful passes,
    // mirroring the sidecar.
    val queriesJson = best.map { case (k, b) =>
      jstr(k) + ":" + b.map(p => f3(p._1)).getOrElse("null")
    }.mkString("{", ",", "}")
    // the summary line reaches the harness UNPREFIXED: `run` is forked
    // and build.sbt routes forked output through StdoutOutput, so sbt
    // passes it straight through instead of re-logging it as
    // "[info] {...}" — the form the r11/r12 harness tails recorded but
    // failed to parse ("parsed": null despite a valid line). The
    // sidecar above remains the canonical artifact either way
    // (NOTES.md).
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec","cpu_sec":${f3(cpuTotal)},"nq":${results.size},"queries":$queriesJson,"slowest":$slowest,"sidecar":"$sidecarRel","failed":$failedJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
