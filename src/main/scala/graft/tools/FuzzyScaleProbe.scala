package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The fuzzy join's scale adversary, executed at volume — the SCALING.md
  * evidence behind FuzzyJoin's candidate-growth formula.
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
  * Reports, per corpus: exact candidate-pair counts (the blocked join
  * WITHOUT the levenshtein verify — the work the verifier must pay),
  * true-pair counts and full-query wall where affordable. Run:
  *   sbt "runMain graft.tools.FuzzyScaleProbe <factor> [candOnly]"
  */
object FuzzyScaleProbe {

  private def adversarial(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).select(col("id"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0"))
        .as("s"))

  private def randomish(spark: SparkSession, n: Long): DataFrame =
    spark.range(0, n).select(col("id"),
      substring(md5(concat(lit("fz|"), col("id").cast("string"))), 1, 18)
        .as("s"))

  /** Candidate frame of the blocked join with the verify predicate
    * REMOVED — what the blocking hands to the verifier, strings
    * attached so the count filter can be priced on it. Mirrors
    * FuzzyJoin.selfPairs' candidate stage including the location-shrunk
    * positional prefix.
    */
  private def candFrame(df: DataFrame, d: Int, q: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = df.select(col("id"), col("s"))
      .withColumn("len", length(col("s")))
    val shortCut = q * (d + 1) - 1
    val prefixLen = q * d + 1
    val grams = rows.where(col("len") > shortCut)
      .select(col("id"), col("s"), col("len"),
        posexplode(expr(
          s"transform(sequence(1, len - ${q - 1}), i -> substring(s, i, $q))")))
      .select(col("id"), col("s"), col("len"), (col("pos") + 1).as("pos"),
        col("col").as("gram"))
    val freq = grams.groupBy("gram").agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy("id")
      .orderBy(col("freq"), col("gram"), col("pos"))
    val ranked = grams.join(broadcast(freq), "gram")
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") <= prefixLen)
    def minEdits(p: String) =
      s"aggregate(array_sort($p), named_struct('c', 0, 'cov', -2147483647), " +
        s"(st, p) -> if(p > st.cov, named_struct('c', st.c + 1, 'cov', " +
        s"p + ${q - 1}), st)).c"
    val posK = (k: String) =>
      s"transform(filter(_parr, x -> x._rk <= $k), x -> x.pos)"
    val kStar =
      s"array_min(filter(transform(sequence(${d + 1}, $prefixLen), " +
        s"k -> if(${minEdits(posK("k"))} > $d, k, cast(null as int))), " +
        "v -> v is not null))"
    val prefix = ranked
      .withColumn("_parr",
        collect_list(struct(col("_rk"), col("pos")))
          .over(Window.partitionBy("id")))
      .withColumn("_k", coalesce(expr(kStar), lit(prefixLen)))
      .where(col("_rk") <= col("_k"))
      .select(col("gram"), col("pos"), col("id"), col("s"), col("len"))
    val bw = d + 1
    val a = prefix
      .withColumn("bk",
        explode(expr(s"sequence(pos div $bw - 1, pos div $bw + 1)")))
      .repartition(32, col("gram"), col("bk"))
    val b = prefix.select(col("gram"), expr(s"pos div $bw").as("bk"),
      col("pos").as("pos2"), col("id").as("id2"), col("s").as("s2"),
      col("len").as("len2"))
    a.join(b.hint("shuffle_hash"), Seq("gram", "bk"))
      .where(col("id") < col("id2") &&
        abs(col("pos") - col("pos2")) <= d &&
        abs(col("len") - col("len2")) <= d)
  }

  /** (occurrence count, distinct pair count) of the candidate stage. */
  private def candidates(df: DataFrame, d: Int = 1, q: Int = 2)
      : (Long, Long) = {
    val cand = candFrame(df, d, q)
    (cand.count(), cand.select("id", "id2").distinct().count())
  }

  def main(args: Array[String]): Unit = {
    val factor = args.headOption.filter(_.forall(_.isDigit))
      .map(_.toInt).getOrElse(1)
    val candOnly = args.contains("candOnly")
    val n = 15000L * factor
    val spark = graft.SessionBuilder.local(32)
    spark.sparkContext.setLogLevel("ERROR")

    // lookup-fixed: the R-S lookup's PRODUCTION decade — a FIXED probe
    // list (the sf0.1-sized 120 probes, the "one benchmark's titles"
    // shape) against a corpus scaled under SPARK_GRAFT_SF_DIR. The
    // registered q_fuzzy_lookup scales probes WITH the corpus and its
    // key-shift replicas duplicate every name verbatim, so its ×1000
    // point is output-bound by construction: ≥10 matching names ×1000
    // copies ×120k probes ≈ 1.2G true pairs — the distinct shuffle of
    // that output alone exceeds this host's disk, and no engine dodges
    // its own output. The fixed-probe shape is the decade SCALING.md's
    // linear-path claim actually makes.
    if (args.contains("lookup-fixed")) {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        "/root/repo/scale_data/sf100")
      val baseDir = sys.env.getOrElse("SPARK_GRAFT_BASE_DIR",
        "/root/testdata/sf0.1")
      val osb = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val baseSpan = spark.read.parquet(s"$baseDir/customer.parquet")
        .agg(max(col("c_custkey"))).head().getLong(0)
      val cust = spark.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey", "c_name")
      val probes = cust
        .where(col("c_custkey") <= baseSpan &&
          pmod(col("c_custkey"), lit(125)) === 1)
        .select(col("c_custkey").as("probe_id"),
          expr("concat(substring(c_name, 1, cast(c_custkey % 9 as int) + 9)," +
            " 'x', substring(c_name, cast(c_custkey % 9 as int) + 11))")
            .as("probe_name"))
      val nCorpus = cust.count()
      val nProbes = probes.count()
      val c0 = osb.getProcessCpuTime
      val t0 = System.nanoTime()
      val nPairs = graft.ext.FuzzyJoin.lookupPairs(probes, cust,
        "probe_id", "probe_name", "c_custkey", "c_name", d = 1).count()
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (osb.getProcessCpuTime - c0) / 1e9
      println(f"[fuzzy-probe] corpus=lookup-fixed corpusRows=$nCorpus " +
        f"probes=$nProbes pairs=$nPairs wall=$wall%.1f s cpu=$cpu%.1f s")
      spark.stop()
      return
    }

    // adv-d2: the count filter priced at VOLUME — d=2 over the
    // adversarial ID corpus (n = 15000 × factor), candidates the
    // positional prefix hands over vs survivors after the count
    // filter vs true pairs, plus the full-query wall either way.
    if (args.contains("adv-d2")) {
      val df = adversarial(spark, n).cache()
      df.count()
      val cand = candFrame(df, d = 2)
        .select("id", "id2", "s", "s2").distinct().cache()
      val before = cand.count()
      def timed(what: String)(body: => Long): Long = {
        val t0 = System.nanoTime()
        val v = body
        println(f"[fuzzy-probe] adv-d2 n=$n $what=$v " +
          f"wall=${(System.nanoTime() - t0) / 1e9}%.1f s")
        v
      }
      // the decision numbers: per-pair cost of the count filter vs the
      // banded levenshtein it guards, on the SAME cached candidates
      timed("afterCountFilter") {
        cand.where(graft.ext.FuzzyJoin.countFilterCond(2, 2)).count()
      }
      timed("afterBandedLev") {
        cand.where(levenshtein(col("s"), col("s2"), 2) >= 0).count()
      }
      println(f"[fuzzy-probe] corpus=adversarial-d2 n=$n candPairs=$before")
      cand.unpersist(); df.unpersist()
      spark.stop()
      return
    }

    // names-d2: price Ed-Join's d=2 COUNT filter on q_fuzzy_names_d2's
    // exact corpus (deduped part names) — candidates the positional
    // prefix hands over, survivors after the count filter, true pairs.
    if (args.contains("names-d2")) {
      val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
      val names = spark.read.parquet(s"$dir/part.parquet")
        .groupBy("p_name").agg(min("p_partkey").as("id"))
        .select(col("id"), col("p_name").as("s")).cache()
      val nNames = names.count()
      val cand = candFrame(names, d = 2)
        .select("id", "id2", "s", "s2").distinct().cache()
      val before = cand.count()
      val after =
        cand.where(graft.ext.FuzzyJoin.countFilterCond(2, 2)).count()
      val t0 = System.nanoTime()
      val nTrue = graft.ext.FuzzyJoin.selfPairs(names, "id", "s", d = 2)
        .count()
      println(f"[fuzzy-probe] corpus=part-names-d2 n=$nNames " +
        f"candPairs=$before afterCountFilter=$after truePairs=$nTrue " +
        f"fullWall=${(System.nanoTime() - t0) / 1e9}%.1f s")
      cand.unpersist(); names.unpersist()
      spark.stop()
      return
    }

    // candApprox: the ×100 decade. Exact distinct-pair counting is
    // disk-bound out of reach there — ~53G pairs × 16B of distinct
    // shuffle ≈ 850 GB against ~50 GB free — so this mode measures the
    // SAME candidate stage in ONE agg pass with exact occurrence count
    // + HLL distinct at rsd=0.5% (no pair row is ever shuffled; the
    // sketch merges map-side). The occurrence count is exact at any
    // scale; the distinct is labeled approximate in SCALING.md.
    if (args.contains("candApprox")) {
      val osb = java.lang.management.ManagementFactory
        .getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      for ((tag, mk) <- Seq(
          "adversarial" -> adversarial _,
          "random" -> randomish _)) {
        val df = mk(spark, n).cache()
        df.count()
        val c0 = osb.getProcessCpuTime
        val t0 = System.nanoTime()
        val row = candFrame(df, 1, 2).agg(
          count(lit(1)).as("occ"),
          approx_count_distinct(struct(col("id"), col("id2")), 0.005)
            .as("pairs")).head()
        val tCand = (System.nanoTime() - t0) / 1e9
        val cCand = (osb.getProcessCpuTime - c0) / 1e9
        println(f"[fuzzy-probe] corpus=$tag n=$n candOcc=${row.getLong(0)} " +
          f"candPairsApprox=${row.getLong(1)} (rsd 0.5%%) " +
          f"candWall=$tCand%.1f s candCpu=$cCand%.1f s")
        df.unpersist()
      }
      spark.stop()
      return
    }

    val osBean = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    for ((tag, mk) <- Seq(
        "adversarial" -> adversarial _,
        "random" -> randomish _)) {
      val df = mk(spark, n).cache()
      df.count()
      val c0 = osBean.getProcessCpuTime
      val t0 = System.nanoTime()
      val (occ, pairs) = candidates(df)
      val tCand = (System.nanoTime() - t0) / 1e9
      val cCand = (osBean.getProcessCpuTime - c0) / 1e9
      println(f"[fuzzy-probe] corpus=$tag n=$n candOcc=$occ " +
        f"candPairs=$pairs candWall=$tCand%.1f s candCpu=$cCand%.1f s")
      if (!candOnly) {
        val t1 = System.nanoTime()
        val nTrue = graft.ext.FuzzyJoin.selfPairs(df, "id", "s", d = 1)
          .count()
        println(f"[fuzzy-probe] corpus=$tag n=$n truePairs=$nTrue " +
          f"fullWall=${(System.nanoTime() - t1) / 1e9}%.1f s")
      }
      df.unpersist()
    }
    spark.stop()
  }
}
