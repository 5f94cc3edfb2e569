package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ScaleProbe.Harness
import graft.ext.{Clustering, FuzzyJoin, NearDup, Politeness, Robots,
  TextAnalysis => TA}
import graft.ext.Clustering.CcStrategy

/** Scale scenarios of single operators on synthetic adversaries. */
object OperatorScenarios {

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

  /** `cc [factor] [loop|budget=N] [docs=DIR]`: the connected-components
    * scale adversary — the SCALING.md evidence behind the min-label vs
    * alternating-star crossover the Clustering scaladoc asserts
    * (min-label: rounds = diameter, two cheap shuffles per round;
    * alternating-star: O(log² n) rounds regardless of diameter, at an
    * edge-rewrite + set-equality cost per round).
    *
    * Two pair-graph shapes, both closed-form deterministic:
    *  - QUASI-CLIQUE (the shape near-dup graphs actually take —
    *    components are groups of documents that all share LSH buckets):
    *    components of 32 nodes, each a ring + chords (diameter ≤ ~4);
    *    n = 10000 × factor (decades 1/10/100 when no factor is given).
    *  - LONG PATH (the adversarial shape): one path of n nodes —
    *    diameter n-1, min-label's worst case by construction when laid
    *    out so that no partition holds a run of it (the scattered
    *    layout below); contiguous slices contract to one star per
    *    partition.
    *
    * For each (shape, size, strategy): the finish that ran (`driver` or
    * `loop`, see Clustering.connectedComponents), rounds to converge,
    * the contracted graph's row count, wall seconds through a first
    * action on the labels, the seconds of a second, downstream join on
    * them, and shuffle write during the run (the scale currency).
    * Min-label on paths is priced only while affordable (rounds = path
    * length; the probe caps it and records the projection instead of
    * burning hours proving linearity twice). `loop` sets the driver
    * budget to 0 so every run takes the distributed loop, `budget=N`
    * sets it to N rows. `docs=DIR` replaces the synthetic shapes with
    * q_neardup_cluster's LSH pair graph over DIR/documents.parquet, run
    * under both finishes, and prints its contraction ratio.
    */
  def cc(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val factors: Seq[Long] = args.headOption.filter(_.forall(_.isDigit))
      .map(f => Seq(f.toLong)).getOrElse(Seq(1L, 10L, 100L))
    val budget = args.collectFirst {
      case "loop" => 0L
      case b if b.startsWith("budget=") => b.stripPrefix("budget=").toLong
    }.getOrElse(Clustering.DriverFinishEdges)
    val docsDir = args.collectFirst {
      case d if d.startsWith("docs=") => d.stripPrefix("docs=")
    }

    def run(name: String, pairs: DataFrame, strategy: CcStrategy,
        maxIters: Int, budget: Long): Unit = {
      var rounds = -1
      val ((wall, joinS, result), c) = h.traced {
        val (wall, labels) = h.best(1) {
          try {
            val cc = Clustering.connectedComponents(pairs,
              maxIters = maxIters, driverFinishEdges = budget,
              strategy = strategy, onRounds = rounds = _)
            Right((cc, cc.agg(count(lit(1)),
              countDistinct(col("cluster_id"))).head()))
          } catch {
            case e: IllegalStateException =>
              Left(s"DNF(${e.getMessage.take(40)}...)")
          }
        }
        // a downstream plan over the labels, shaped like clusterDedup's
        // join back to the pairs: what a consumer pays for the finish's
        // output (its id arrays, or the loop's cached frame)
        labels match {
          case Right((cc, agg)) =>
            val (joinS, _) = h.best(1)(pairs
              .join(cc.withColumnRenamed("doc_id", "d1"), "d1").count())
            (wall, joinS, s"nodes=${agg.getLong(0)} comps=${agg.getLong(1)}")
          case Left(dnf) => (wall, Double.NaN, dnf)
        }
      }
      val fin = Clustering.lastFinish.get()
      println(f"$name%-42s path=${fin.path}%-6s rounds=$rounds%4d " +
        f"contracted=${fin.contractedRows}%8d wall=$wall%8.2fs " +
        f"join=$joinS%6.2fs " +
        f"shuffleWrite=${c.shuffleWriteBytes / 1e6}%10.1f MB  $result")
    }

    docsDir match {
      case Some(dir) =>
        // a real LSH near-dup graph instead of the synthetic shapes:
        // both finishes per strategy, then the contraction ratio
        val pairs = NearDup.lshNearDupPairs(
          spark.read.parquet(s"$dir/documents.parquet"), col("doc_id"),
          TA.distinctTokens(col("text")), bands = 4, rowsPerBand = 2,
          maxBucket = 10, minJaccard = 0.6).select("d1", "d2").cache()
        val symmetric = 2 * pairs.count()
        for (s <- Seq(CcStrategy.MinLabel, CcStrategy.AlternatingStar);
             b <- Seq(0L, Clustering.DriverFinishEdges))
          run(s"lsh-pairs 2|E|=$symmetric $s", pairs, s, 25, b)
        // the default-budget run, last, counted the contracted graph
        val ratio =
          Clustering.lastFinish.get().contractedRows.toDouble / symmetric
        println(f"lsh-pairs contraction ratio (contracted / 2|E|) = $ratio%.3f")
      case None =>
        for (f <- factors) {
          val n = 10000L * f
          val qc = quasiClique(spark, n)
          run(s"quasi-clique n=$n minlabel", qc, CcStrategy.MinLabel, 25,
            budget)
          run(s"quasi-clique n=$n star", qc, CcStrategy.AlternatingStar,
            25, budget)
        }
        // the adversarial decade sweep: path length doubles. range()
        // lays the path out in contiguous slices, which local
        // contraction collapses to one star per partition; the
        // scattered layout (round-robin over 8 partitions) leaves
        // contraction almost nothing, so min-label's rounds (and wall)
        // double with the length there while star's stay ~log²
        for (len <- Seq(64L, 128L, 256L)) {
          val p = longPath(spark, len)
          for ((layout, pairs) <-
              Seq("" -> p, " scattered" -> p.repartition(8))) {
            run(s"long-path$layout n=$len minlabel", pairs,
              CcStrategy.MinLabel, len.toInt + 2, budget)
            run(s"long-path$layout n=$len star", pairs,
              CcStrategy.AlternatingStar, 25, budget)
          }
        }
        // at scale, min-label on an uncontracted long path is priced by
        // PROJECTION: its per-round cost is flat (measure 3 capped
        // rounds), rounds = n-1
        for (len <- Seq(100000L, 1000000L)) {
          val p = longPath(spark, len)
          run(s"long-path n=$len minlabel(cap=3 rounds)", p,
            CcStrategy.MinLabel, 3, budget)
          run(s"long-path n=$len star", p, CcStrategy.AlternatingStar, 30,
            budget)
        }
    }
  }

  /** `fuzzy [factor] [candOnly]`: the fuzzy join's scale adversary,
    * executed at volume — the SCALING.md evidence behind FuzzyJoin's
    * candidate-growth formula.
    *
    * Two corpora at n = 15000 × factor, both 18-char strings:
    *  - ADVERSARIAL: uniform-format IDs ("Customer#%09d" — exactly the
    *    sf0.1 customer shape). The gram-value alphabet is bounded
    *    (letters of the scaffold + 100 digit bigrams), so (gram, pos)
    *    block sizes grow ~linearly with n and candidates grow
    *    ~n²/B where B = the (gram, posBucket) signature-space size —
    *    the worst case for ANY signature-based blocking: the corpus is
    *    genuinely self-similar (every string has ~35 true partners).
    *  - RANDOM: md5-hex content (16-symbol alphabet, positions
    *    uniform) — same volume, no structure; candidates track output.
    *
    * Reports, per corpus: exact candidate occurrence and distinct-pair
    * counts of FuzzyJoin.selfCandidates at d=1 (the blocked join
    * WITHOUT the levenshtein verify — the work the verifier must pay),
    * then, unless `candOnly`, true-pair count and full-query wall.
    */
  def fuzzy(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val factor = args.headOption.filter(_.forall(_.isDigit))
      .map(_.toInt).getOrElse(1)
    val candOnly = args.contains("candOnly")
    val n = 15000L * factor
    val corpora = Seq[(String, DataFrame)](
      "adversarial" -> spark.range(0, n).select(col("id"),
        concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0"))
          .as("s")),
      "random" -> spark.range(0, n).select(col("id"),
        substring(md5(concat(lit("fz|"), col("id").cast("string"))), 1, 18)
          .as("s")))
    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    for ((tag, corpus) <- corpora) {
      val df = corpus.cache()
      df.count()
      val c0 = osBean.getProcessCpuTime
      val (tCand, (occ, pairs)) = h.best(1) {
        val cand = FuzzyJoin.selfCandidates(
          FuzzyJoin.normalize(df, "id", "s"), d = 1, q = 2)
        (cand.count(), cand.select("id", "id2").distinct().count())
      }
      val cCand = (osBean.getProcessCpuTime - c0) / 1e9
      println(f"[fuzzy-probe] corpus=$tag n=$n candOcc=$occ " +
        f"candPairs=$pairs candWall=$tCand%.1f s candCpu=$cCand%.1f s")
      if (!candOnly) {
        val (wall, nTrue) = h.best(1)(
          FuzzyJoin.selfPairs(df, "id", "s", d = 1).count())
        println(f"[fuzzy-probe] corpus=$tag n=$n truePairs=$nTrue " +
          f"fullWall=$wall%.1f s")
      }
      df.unpersist()
    }
  }

  /** `politeness [decades]`: skew posture of the politeness scheduler.
    * A hot domain under the NAIVE per-domain window funnels every one
    * of its rows into one task; the two-phase rank splits it across
    * id-range buckets. A deliberately skewed frontier — ONE domain
    * holding 10^d hot rows on top of 100k background domains × 10 rows
    * — runs both formulations, asserts identical results, and reports
    * wall plus the MAX single-task duration (the straggler the naive
    * plan hides inside an okay-looking total on idle cores). Then the
    * double-evaluation A/B: schedule() over an expensive upstream (the
    * robots gate), recomputed vs `persistGated`.
    */
  def politeness(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    import spark.implicits._
    val decades = args.lift(0).map(_.toInt).getOrElse(3)
    def slotSum(df: DataFrame): Long = df.agg(sum("slot")).head().getLong(0)

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
      // one pass each: the max task time is the straggler of that pass
      val ((nw, nSum), nc) = h.traced(h.best(1)(slotSum(
        Politeness.scheduleNaive(frontier, "domain", "doc_id",
          "crawl_delay_sec"))))
      val ((tw, tSum), tc) = h.traced(h.best(1)(slotSum(
        Politeness.schedule(frontier, "domain", "doc_id",
          "crawl_delay_sec"))))
      require(nSum == tSum, s"rank mismatch: naive=$nSum two-phase=$tSum")
      println(f"decade d=$d hotRows=$hot bgRows=$bg " +
        f"naive wall=$nw%.2fs maxTask=${nc.maxTaskMs}ms | " +
        f"two-phase wall=$tw%.2fs maxTask=${tc.maxTaskMs}ms " +
        f"(rank checksum equal: $nSum)")
    }

    // the double-evaluation A/B (r18 verdict): schedule() consumes its
    // input twice, so an EXPENSIVE upstream — here the real robots
    // gate (broadcast rules join + per-row matching) — re-runs for the
    // bases branch. persistGated swaps the re-run for one cache
    // write + cached read. Both sides checksum-equal.
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
      // one pass per side: the opt-in cache is released between passes
      def run(persist: Boolean): (Double, Long) =
        try h.best(1)(slotSum(Politeness.schedule(gated, "domain",
          "doc_id", "crawl_delay_sec", persistGated = persist)))
        finally spark.catalog.clearCache()
      h.warm(s"gate-upstream d=$d")(run(persist = false))
      val (rw, rSum) = run(persist = false)
      val (pw, pSum) = run(persist = true)
      require(rSum == pSum, s"persist changed ranks: $rSum vs $pSum")
      println(f"gate-upstream d=$d rows=$rows recompute=$rw%.2fs " +
        f"persist=$pw%.2fs (${rw / pw}%.2fx, checksum $rSum)")
    }
  }

  /** A realistic per-domain robots body: 3 groups, ~8 rules. */
  private def robotsBody(k: Long): String =
    s"""User-agent: graftbot
       |Disallow: /tmp$k/
       |Allow: /tmp$k/ok/
       |
       |User-agent: otherbot
       |Disallow: /
       |
       |User-agent: *
       |Disallow: /private/
       |Disallow: /*.zip$$
       |Allow: /private/pub/
       |Crawl-delay: ${1 + k % 5}
       |""".stripMargin

  /** `robots [decades]`: robots-gate posture at frontier shape. The
    * gate parses rules on executors and joins; this prices it across
    * robots-table decades (10k → 1M domains, 10 frontier URLs per
    * domain) under BOTH join shapes — broadcast (the ≤1M-domain
    * default) and the domain-keyed equi-join (the 10⁸-domain path) —
    * and reports driver heap growth across the run: the structural
    * claim ("no driver-side robots state") made measurable.
    */
  def robots(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    import spark.implicits._
    val decades = args.lift(0).map(_.toInt).getOrElse(3)

    def heapMb(): Long = {
      val rt = Runtime.getRuntime
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) >> 20
    }

    val passes = (0 until decades).map { d =>
      val nDomains = 10000L * math.pow(10, d).toLong
      val robots = spark.range(nDomains).select(col("id"))
        .as[java.lang.Long].repartition(64)
        .mapPartitions(_.map { boxed =>
          val k = boxed.longValue()
          (s"d$k.probe", robotsBody(k))
        }).toDF("domain", "robots")
      val pages = spark.range(nDomains * 10).select(col("id"))
        .as[java.lang.Long].repartition(64)
        .mapPartitions(_.map { boxed =>
          val id = boxed.longValue()
          val k = id / 10
          val path = (id % 4) match {
            case 0 => s"/a/x$id"
            case 1 => s"/tmp$k/x$id"
            case 2 => s"/private/x$id"
            case _ => s"/file$id.zip"
          }
          (id, s"d$k.probe", path)
        }).toDF("doc_id", "domain", "path")

      val shapes = Seq(
        ("broadcast", Long.MaxValue),
        ("equi_join", 0L))
      val runs = shapes.map { case (label, threshold) =>
        val h0 = heapMb()
        val (wall, blocked) = h.best()(Robots
          .gateByDomain(pages, robots, "graftbot", threshold)
          .where(!col("allowed")).count())
        val h1 = heapMb()
        // gate semantics hold at every decade: graftbot's OWN group
        // governs (star rules don't apply to it), so exactly family 1
        // (/tmp<k>/...) is blocked — a quarter of the frontier
        require(blocked == nDomains * 10 / 4,
          s"expected ${nDomains * 10 / 4} blocked, got $blocked")
        f"""{"shape":"$label","domains":$nDomains,""" +
          f""""frontier":${nDomains * 10},"wall_sec":$wall%.1f,""" +
          f""""urls_per_sec":${nDomains * 10 / wall}%.0f,""" +
          f""""driver_heap_mb_before":$h0,"driver_heap_mb_after":$h1}"""
      }
      runs.mkString(",")
    }
    println(s"""{"metric":"robots_scale","decades":$decades,""" +
      s""""passes":[${passes.mkString(",")}]}""")
  }
}
