package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.ext.Politeness

/** Skew posture of the politeness scheduler: a hot domain under the
  * NAIVE per-domain window funnels every one of its rows into one
  * task; the two-phase rank splits it across id-range buckets. The
  * probe builds a deliberately skewed frontier — ONE domain holding
  * 10^d hot rows on top of 100k background domains × 10 rows — runs
  * both formulations, asserts identical results, and reports wall
  * plus the MAX single-task duration (the straggler the naive plan
  * hides inside an okay-looking total on idle cores).
  *
  * Run: sbt "runMain graft.tools.PolitenessScaleProbe [decades]"
  */
object PolitenessScaleProbe {

  def main(args: Array[String]): Unit = {
    val decades = args.lift(0).map(_.toInt).getOrElse(3)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SessionBuilder.local(cores,
      appName = "politeness-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val maxTaskMs = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null) {
          val d = e.taskInfo.duration
          var cur = maxTaskMs.get()
          while (d > cur && !maxTaskMs.compareAndSet(cur, d))
            cur = maxTaskMs.get()
        }
    })

    def timed(f: => Long): (Double, Long, Long) = {
      maxTaskMs.set(0)
      val t0 = System.nanoTime()
      val out = f
      val wall = (System.nanoTime() - t0) / 1e9
      // listener events drain asynchronously; settle before reading
      // (listenerBus is spark-private — a bounded sleep is enough for
      // a probe: task-end events land within milliseconds of the job)
      Thread.sleep(300)
      (wall, maxTaskMs.get(), out)
    }

    for (d <- 0 until decades) {
      val hot = 10000L * math.pow(10, d).toLong
      val bg = 1000000L
      // ids interleave so the hot domain occupies MANY id-range
      // buckets (the realistic shape: a big host's URLs arrive mixed
      // into the frontier, not as one contiguous id run)
      val frontier = spark.range(hot + bg).select(
        col("id").as("doc_id"),
        when(col("id") % (1L + (hot + bg) / hot) === 0L, lit("hot.test"))
          .otherwise(concat(lit("d"),
            (col("id") % 100000L).cast("string"), lit(".test")))
          .as("domain"),
        concat(lit("/p"), col("id").cast("string")).as("path"),
        when(col("id") % 3 === 0, lit(2.0)).otherwise(lit(null))
          .cast("double").as("crawl_delay_sec"))
      val (nw, nMax, nSum) = timed(
        Politeness.scheduleNaive(frontier, "domain", "doc_id",
          "crawl_delay_sec").agg(sum("slot")).head().getLong(0))
      val (tw, tMax, tSum) = timed(
        Politeness.schedule(frontier, "domain", "doc_id",
          "crawl_delay_sec").agg(sum("slot")).head().getLong(0))
      require(nSum == tSum, s"rank mismatch: naive=$nSum two-phase=$tSum")
      println(f"decade d=$d hotRows=$hot bgRows=$bg " +
        f"naive wall=$nw%.2fs maxTask=${nMax}ms | " +
        f"two-phase wall=$tw%.2fs maxTask=${tMax}ms " +
        f"(rank checksum equal: $nSum)")
    }

    // the double-evaluation A/B (r18 verdict): schedule() consumes its
    // input twice, so an EXPENSIVE upstream — here the real robots
    // gate (broadcast rules join + per-row matching) — re-runs for the
    // bases branch. persistGated swaps the re-run for one cache
    // write + cached read. Both sides checksum-equal.
    locally {
      import graft.ext.{Politeness, Robots}
      import spark.implicits._
      for (d <- 0 until decades) {
        val rows = 1000000L * math.pow(4, d).toLong
        val pages = spark.range(rows).select(
          col("id").as("doc_id"),
          concat(lit("d"), (col("id") % 100000L).cast("string"),
            lit(".test")).as("domain"),
          concat(lit("/p"), col("id").cast("string")).as("path"))
        val robots = spark.range(100000L)
          .select(concat(lit("d"), col("id").cast("string"),
            lit(".test")).as("domain"), col("id"))
          .as[(String, Long)]
          .map { case (d0, i) => (d0, Robots.robotsFor(i % 3)) }
          .toDF("domain", "robots")
        def gated = Robots.gateByDomain(pages, robots, "graftbot",
          Long.MaxValue).where(col("allowed"))
        def run(persist: Boolean): (Double, Long) = {
          val (w, _, s) = timed(
            Politeness.schedule(gated, "domain", "doc_id",
              "crawl_delay_sec", persistGated = persist)
              .agg(sum("slot")).head().getLong(0))
          spark.catalog.clearCache() // release the opt-in cache
          (w, s)
        }
        run(persist = false) // warm the gate/JIT once per decade
        val (rw, rSum) = run(persist = false)
        val (pw, pSum) = run(persist = true)
        require(rSum == pSum,
          s"persist changed ranks: $rSum vs $pSum")
        println(f"gate-upstream d=$d rows=$rows recompute=$rw%.2fs " +
          f"persist=$pw%.2fs (${rw / pw}%.2fx, checksum $rSum)")
      }
    }
    spark.stop()
  }
}
