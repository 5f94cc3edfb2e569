package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Clustering, NearDup, TextAnalysis => TA}
import graft.ext.Clustering.CcStrategy

/** Connected-components scale adversary — the SCALING.md evidence
  * behind the min-label vs alternating-star crossover the
  * Clustering scaladoc asserts (min-label: rounds = diameter, two
  * cheap shuffles per round; alternating-star: O(log² n) rounds
  * regardless of diameter, at an edge-rewrite + set-equality cost per
  * round).
  *
  * Two pair-graph shapes, both closed-form deterministic:
  *  - QUASI-CLIQUE (the shape near-dup graphs actually take —
  *    components are groups of documents that all share LSH buckets):
  *    components of 32 nodes, each a ring + chords (diameter ≤ ~4);
  *    n scales with the factor.
  *  - LONG PATH (the adversarial shape): one path of n nodes —
  *    diameter n-1, min-label's worst case by construction when laid
  *    out so that no partition holds a run of it (the scattered layout
  *    below); contiguous slices contract to one star per partition.
  *
  * For each (shape, size, strategy): the finish that ran (`driver` or
  * `loop`, see Clustering.connectedComponents), rounds to converge, the
  * contracted graph's row count, wall seconds through a first action on
  * the labels, the seconds of a second, downstream join on them, and
  * cumulative shuffle write during the run (the scale currency).
  * Min-label on paths is priced only while affordable (rounds = path
  * length; the probe caps it and records the projection instead of
  * burning hours proving linearity twice).
  *
  * Run: sbt "runMain graft.tools.CcScaleProbe [factor] [loop|budget=N]
  * [docs=DIR|frames]" — factor scales the quasi-clique corpus (default
  * decades 1/10/100 are all run when no factor is given); `loop` sets
  * the driver budget to 0 so every run takes the distributed loop, and
  * `budget=N` sets it to N rows. `docs=DIR` replaces the synthetic
  * shapes with q_neardup_cluster's LSH pair graph over
  * DIR/documents.parquet, run under both finishes, and prints its
  * contraction ratio; `frames` times the driver finish's output frame
  * against a local relation instead.
  */
object CcScaleProbe {

  /** Ring + two chords per node inside 32-node components: diameter
    * stays ≤ ~4 at any n (each node reaches the component hub in one
    * or two hops through the chord to the (i*7)%32 slot).
    */
  private def quasiClique(spark: SparkSession, n: Long): DataFrame = {
    val base = spark.range(n)
      .select(col("id"), (col("id") / 32).cast("long").as("comp"),
        pmod(col("id"), lit(32L)).as("slot"))
    base.select(col("id").as("d1"),
        (col("comp") * 32 + pmod(col("slot") + 1, lit(32L))).as("d2"))
      .union(base.select(col("id").as("d1"),
        (col("comp") * 32 + pmod(col("slot") * 7 + 3, lit(32L))).as("d2")))
      .where(col("d1") =!= col("d2") && col("d2") < n)
  }

  /** One path 0-1-2-...-(n-1): diameter n-1. */
  private def longPath(spark: SparkSession, n: Long): DataFrame =
    spark.range(n - 1).select(col("id").as("d1"), (col("id") + 1).as("d2"))

  private final class ShuffleListener
      extends org.apache.spark.scheduler.SparkListener {
    val written = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null && m.shuffleWriteMetrics != null)
        written.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }

  private def run(name: String, pairs: DataFrame, strategy: CcStrategy,
      maxIters: Int, budget: Long, listener: ShuffleListener): Unit = {
    var rounds = -1
    val before = listener.written.get
    val t0 = System.nanoTime()
    var joinS = Double.NaN
    val result =
      try {
        val cc = Clustering.connectedComponents(pairs, maxIters = maxIters,
          driverFinishEdges = budget, strategy = strategy,
          onRounds = rounds = _)
        val agg = cc.agg(count(lit(1)), countDistinct(col("cluster_id")))
          .head()
        // a downstream plan over the labels, shaped like clusterDedup's
        // join back to the pairs: what a consumer pays for the finish's
        // output (its id arrays, or the loop's cached frame)
        val t1 = System.nanoTime()
        pairs.join(cc.withColumnRenamed("doc_id", "d1"), "d1").count()
        joinS = (System.nanoTime() - t1) / 1e9
        s"nodes=${agg.getLong(0)} comps=${agg.getLong(1)}"
      } catch {
        case e: IllegalStateException => s"DNF(${e.getMessage.take(40)}...)"
      }
    val wall = (System.nanoTime() - t0) / 1e9 - (if (joinS.isNaN) 0 else joinS)
    // settle the listener bus so the run's last tasks are counted
    // (listenerBus is private[spark]; a short sleep is the probe-grade
    // equivalent, same as ScaleProbe's snapshot settle)
    Thread.sleep(300)
    val shuffleMb = (listener.written.get - before) / 1e6
    val fin = Clustering.lastFinish.get()
    println(f"$name%-42s path=${fin.path}%-6s rounds=$rounds%4d " +
      f"contracted=${fin.contractedRows}%8d wall=$wall%8.2fs " +
      f"join=$joinS%6.2fs shuffleWrite=$shuffleMb%10.1f MB  $result")
  }

  /** q_neardup_cluster's pair graph over `<dir>/documents.parquet`,
    * with the row count of its symmetrized edge set (2|E|).
    */
  private def lshPairs(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val pairs = NearDup.lshNearDupPairs(
      spark.read.parquet(s"$dir/documents.parquet"), col("doc_id"),
      TA.distinctTokens(col("text")), bands = 4, rowsPerBand = 2,
      maxBucket = 10, minJaccard = 0.6).select("d1", "d2").cache()
    (pairs, 2 * pairs.count())
  }

  /** The synthetic shapes: quasi-cliques at each factor, then the
    * long-path sweeps.
    */
  private def synthetic(spark: SparkSession, factors: Seq[Long],
      budget: Long, listener: ShuffleListener): Unit = {
    for (f <- factors) {
      val n = 10000L * f
      val qc = quasiClique(spark, n)
      run(s"quasi-clique n=$n minlabel", qc, CcStrategy.MinLabel, 25,
        budget, listener)
      run(s"quasi-clique n=$n star", qc, CcStrategy.AlternatingStar, 25,
        budget, listener)
    }
    // the adversarial decade sweep: path length doubles. range() lays
    // the path out in contiguous slices, which local contraction
    // collapses to one star per partition; the scattered layout
    // (round-robin over 8 partitions) leaves contraction almost nothing,
    // so min-label's rounds (and wall) double with the length there
    // while star's stay ~log²
    for (len <- Seq(64L, 128L, 256L)) {
      val p = longPath(spark, len)
      for ((layout, pairs) <- Seq("" -> p, " scattered" -> p.repartition(8))) {
        run(s"long-path$layout n=$len minlabel", pairs, CcStrategy.MinLabel,
          len.toInt + 2, budget, listener)
        run(s"long-path$layout n=$len star", pairs,
          CcStrategy.AlternatingStar, 25, budget, listener)
      }
    }
    // at scale, min-label on an uncontracted long path is priced by
    // PROJECTION: its per-round cost is flat (measure 3 capped rounds),
    // rounds = n-1
    for (len <- Seq(100000L, 1000000L)) {
      val p = longPath(spark, len)
      run(s"long-path n=$len minlabel(cap=3 rounds)", p,
        CcStrategy.MinLabel, 3, budget, listener)
      run(s"long-path n=$len star", p, CcStrategy.AlternatingStar, 30,
        budget, listener)
    }
  }

  /** The driver finish's output frame against a local relation of the
    * same labels: for each size, labels of 32-node clusters, then an
    * aggregate and a join back to the node ids, as in [[run]]. Medians
    * of 5 repetitions after 2 warm-up ones; the evidence behind
    * `Clustering.driverFrame`'s choice of form.
    */
  private def frames(spark: SparkSession): Unit = {
    import spark.implicits._
    for (n <- Seq(4096, 16384, 65536, 262144, 1048576)) {
      val labels = Array.tabulate(n)(i => (i.toLong, i.toLong / 32 * 32))
      val ids = spark.range(n).withColumnRenamed("id", "doc_id")
      val forms = Seq[(String, () => DataFrame)](
        "local-relation" -> (() => labels.toSeq.toDF("doc_id", "cluster_id")),
        "array-backed" -> (() => Clustering.driverFrame(spark, labels)))
      for ((name, build) <- forms) {
        val times = (1 to 7).map { _ =>
          val t0 = System.nanoTime()
          val df = build()
          df.agg(count(lit(1)), countDistinct(col("cluster_id"))).head()
          val t1 = System.nanoTime()
          ids.join(df, "doc_id").count()
          ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
        }.drop(2)
        def median(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
        println(f"frame rows=$n%8d $name%-15s " +
          f"build+agg=${median(times.map(_._1))}%6.3fs " +
          f"join=${median(times.map(_._2))}%6.3fs")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val factors: Seq[Long] = args.headOption.filter(_.forall(_.isDigit))
      .map(f => Seq(f.toLong)).getOrElse(Seq(1L, 10L, 100L))
    val budget = args.collectFirst {
      case "loop" => 0L
      case b if b.startsWith("budget=") => b.stripPrefix("budget=").toLong
    }.getOrElse(Clustering.DriverFinishEdges)
    val docsDir = args.collectFirst {
      case d if d.startsWith("docs=") => d.stripPrefix("docs=")
    }
    val spark = graft.SessionBuilder.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName = "cc-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new ShuffleListener
    spark.sparkContext.addSparkListener(listener)

    docsDir match {
      case Some(dir) =>
        // a real LSH near-dup graph instead of the synthetic shapes:
        // both finishes per strategy, then the contraction ratio
        val (pairs, symmetric) = lshPairs(spark, dir)
        for (s <- Seq(CcStrategy.MinLabel, CcStrategy.AlternatingStar);
             b <- Seq(0L, Clustering.DriverFinishEdges))
          run(s"lsh-pairs 2|E|=$symmetric $s", pairs, s, 25, b, listener)
        // the default-budget run, last, counted the contracted graph
        val ratio =
          Clustering.lastFinish.get().contractedRows.toDouble / symmetric
        println(f"lsh-pairs contraction ratio (contracted / 2|E|) = $ratio%.3f")
      case None if args.contains("frames") => frames(spark)
      case None => synthetic(spark, factors, budget, listener)
    }
    spark.stop()
  }
}
