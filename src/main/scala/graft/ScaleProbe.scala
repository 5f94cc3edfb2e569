package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one scale harness: `runMain graft.ScaleProbe <scenario> [args]`.
  *
  * Every scenario runs on one session (`SPARK_GRAFT_MASTER`, else
  * `local[SPARK_GRAFT_CPUS]`, default 32 cores), one [[obs.QueryTrace]]
  * listener, one untimed warm-up and one min-of-N timer
  * (`SPARK_GRAFT_BENCH_PASSES`, default 2): see [[Harness]]. The
  * scenarios live in [[Scenarios]]; SCALING.md maps each to the rounds
  * it measured.
  *
  * `queries [baseDir outDir factor]` (defaults: sf0.1, /tmp/graft_sf1,
  * 10)
  *  1. synthesizes a `factor`× fixture set under `outDir` (idempotent);
  *  2. times the probe queries at BOTH scales in one JVM (warmed, min of
  *     N passes, full-plan `toRdd.count()` — same methodology as
  *     [[Bench]]);
  *  3. prints one JSON line with per-query seconds at each scale and the
  *     t(scaled)/t(base) ratio.
  * `bigscale [baseDir outDir factor]` (defaults: sf0.1,
  * scale_data/sf100, 1000) does the same for the documents/embeddings
  * tables only (plus customer/orders/lineitem under
  * `SPARK_GRAFT_BIGSCALE_REL=1`) and three content queries by default:
  * the ×1000 decade. Clean-JVM methodology (the SCALING.md adjudication
  * standard): one query per invocation — generation is
  * marker-idempotent, so a fresh JVM costs one marker stat per table.
  *
  * Scaling model: `factor` INDEPENDENT base-shaped corpora unioned — the
  * honest linear model for a web corpus (10× the crawl ≈ 10× the
  * documents at the same duplication rate; dup clusters grow in COUNT,
  * not size). Concretely, per replica k:
  *  - fact tables shift every key by k·(max_key+1), preserving join
  *    fan-outs and referential integrity (dims region/nation are copied
  *    as-is, like TPC-H scaling);
  *  - `documents.text` is rotated by k over a 123-symbol ring (codegen'd
  *    `translate`): token lengths, counts, and per-doc structure are
  *    preserved exactly, while replica vocabularies become disjoint — so
  *    near-dup/n-gram queries see `factor`× more documents and clusters
  *    of the SAME size, not `factor`×-bigger cliques of identical docs
  *    (replicating text verbatim would measure a pathology, not scale);
  *  - `embeddings` get a deterministic ±0.01 per-dimension jitter keyed
  *    on (vec_id, k, position), separating replicas without moving the
  *    overall distribution.
  * `events` replicas shift event_id and user_id, keeping ts — 10× rows
  *   in the same wall-clock window, i.e. 10× traffic as the windowed/
  *   temporal queries would actually see it (possible since the
  *   fixtures moved to TIMESTAMP(MICROS); see QueryUtil.normalizeTs).
  *
  * q_wat_extract_1file's cost axis is the archive, not the sf dir, so at
  * the scaled point it runs over a single synthetic WAT with `factor`×
  * the records (same links/record) through the same DSv2 path.
  */
object ScaleProbe {

  /** The 10 most expensive queries per the round-6 plan audit + the two
    * relational/text headliners + the round-9 additions whose cost axis
    * is the documents corpus (q_lsh_recall runs TWO banded LSH configs;
    * q_tfidf is the corpus-wide tf/df join-back) — the set the scaling
    * verdict is read from.
    */
  val ProbeQueries: Seq[String] = Seq(
    "q5_region_revenue", "q_gopher_gate", "q_dup_ngrams", "q_ngram_jaccard",
    "q_semdedup", "q_cluster_dedup", "q_cluster_split", "q_neardup_cluster",
    "q_assembly", "q_wat_extract_1file", "q_tfidf", "q_lsh_recall",
    "q_sessionize", "q_range_join", "q_ann_ivf", "q_ann_ivf_mp",
    "q_dup_spans", "q_boilerplate", "q_toxicity_gate")

  /** The substitution ring: lowercase + uppercase + digits + Latin-1
    * letters (both cases, ÷ and × excluded) — 123 distinct symbols.
    * Base text only uses [a-zA-Z ], so every base character sits on the
    * ring and rotates; rotated text may carry digits/accented letters,
    * which tokenize identically (the tokenizer splits on spaces and the
    * probe fixtures never feed the oracles).
    */
  private[graft] val Ring: String = {
    val v4 = (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      ('à' to 'ö') ++ ('ø' to 'ÿ') ++ ('À' to 'Ö') ++ ('Ø' to 'Þ')).mkString
    // v5 extension for the ×1000 decade: more BMP letter blocks —
    // Latin Extended-A/B, Greek (΢ U+03A2 is unassigned), Cyrillic,
    // Latin Extended Additional. All single-UTF-16-char (translate
    // maps char→char), none is whitespace, and the v4 123-symbol
    // ring stays the PREFIX so low rotations keep their shape.
    val r = v4 + ((0x0100 to 0x024F) ++
      ((0x0391 to 0x03A9) ++ (0x03B1 to 0x03C9)).filter(_ != 0x03A2) ++
      (0x0400 to 0x04FF) ++
      (0x1E00 to 0x1EFF)).map(_.toChar).mkString
    require(r.distinct.length == r.length && !r.exists(_.isWhitespace),
      "substitution ring must be distinct non-whitespace symbols")
    r
  }

  /** Maximum replica factor: one vocabulary-disjoint substitution per
    * ring rotation.
    */
  val MaxFactor: Int = Ring.length

  /** Per-replica character substitution — length/count-preserving,
    * vocabulary-disjoint across k (identity at k=0): replica k rotates
    * the whole 123-symbol ring by k, and two DISTINCT rotations of a
    * cycle disagree on EVERY symbol, so no token can collide between
    * replicas (verbatim replication would measure a factor×-clique
    * pathology instead of scale; partial-overlap schemes would shade
    * the same direction). The pre-r10 scheme (26 Caesar rotations × 2
    * case flips) capped the curve at ×52; the ring extends the same
    * guarantee to ×123 for the ×100 decade. Factors above the period
    * are rejected rather than silently degenerating.
    */
  private def rot(c: Column, k: Int): Column = {
    require(k < MaxFactor, s"replica $k: substitution period is $MaxFactor")
    if (k == 0) c
    else translate(c, Ring, Ring.drop(k) + Ring.take(k))
  }

  private def span(df: DataFrame, key: String): Long =
    df.agg(coalesce(max(col(key)), lit(0L)).cast("long")).head().getLong(0) + 1L

  /** Bump when the replication model changes — stale fixture sets from
    * an older generator must regenerate, not silently mis-measure.
    * v4: 123-symbol ring substitution (the ×100 decade).
    * v5: ring extended to 1020 BMP letters (the ×1000 decade, the
    * `bigscale` scenario) — rotations ≥ where v4 wrapped produce different
    * text, so v4 fixtures regenerate.
    */
  private val GenVersion = 5

  /** One fixed 12-token paragraph — aligned with q_para_dedup's
    * positional 12-token segmentation, so prefixing it makes it EVERY
    * affected document's paragraph 0: one paragraph key carried by 30%
    * of the corpus, the DESIGN.md adversary executed at volume.
    */
  val HotParagraph: String =
    "shared boilerplate navigation header terms privacy cookie consent banner copyright notice"

  /** Text of the 1% exact-duplicate rows: identical (lang, text) ⇒
    * identical md5 uid across the whole corpus — one dedup key at 1%
    * of corpus volume.
    */
  val HotDupText: String =
    "hot duplicate document body repeated verbatim across the corpus for the degenerate key probe"

  /** Every fixture table, in generation order. */
  val AllTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "documents", "events",
    "embeddings")

  /** Writes the `factor`× fixture of each of `tables` under `outDir`.
    * Replicas are written in append batches of at most `chunk` (each
    * batch one shallow union: a 1000-way union is a stress test of the
    * analyzer, not of the queries); the rows do not depend on `chunk`.
    * Idempotent per table: a marker pins generator version, factor,
    * base corpus and the hot-key variant, and a table whose marker is
    * missing or stale is written again.
    */
  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, hotKey: Boolean = false,
      tables: Seq[String] = AllTables, chunk: Int = 50): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor $factor outside [1, $MaxFactor] (substitution period)")
    require(chunk >= 1, s"chunk $chunk")
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    // the marker must pin EVERY input of the generation — version,
    // factor, AND base corpus — or a rerun against a different baseDir
    // would silently reuse wrong-scale tables
    val baseTag = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(baseDir).getCanonicalPath.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val tag = s"v${GenVersion}_${factor}_$baseTag${if (hotKey) "_hk" else ""}"
    def base(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")

    lazy val spanCust = span(base("customer"), "c_custkey")
    lazy val spanSupp = span(base("supplier"), "s_suppkey")
    lazy val spanPart = span(base("part"), "p_partkey")
    lazy val spanOrd = span(base("orders"), "o_orderkey")
    lazy val spanDoc = span(base("documents"), "doc_id")
    lazy val evBase = graft.queries.QueryUtil.events(spark, baseDir)
    lazy val spanEv = span(evBase, "event_id")
    lazy val spanUser = span(evBase, "user_id")
    lazy val spanVec = span(base("embeddings"), "vec_id")

    // replica k of each table. Fact tables shift every key by
    // k·(max_key+1); dims are copied once, exactly like TPC-H scaling
    def replica(t: String, k: Int): DataFrame = t match {
      case "region" | "nation" => base(t)
      case "customer" => base(t).withColumn("c_custkey",
        col("c_custkey") + lit(k * spanCust))
      case "supplier" => base(t).withColumn("s_suppkey",
        col("s_suppkey") + lit(k * spanSupp))
      case "part" => base(t).withColumn("p_partkey",
        col("p_partkey") + lit(k * spanPart))
      case "orders" => base(t)
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * spanOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * spanCust))
      case "lineitem" => base(t)
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * spanOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * spanPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * spanSupp))
      case "documents" =>
        val docs = base(t)
          .withColumn("doc_id", col("doc_id") + lit(k * spanDoc))
          .withColumn("text", rot(col("text"), k))
        // hot-key variant: the DESIGN.md adversary executed at volume.
        // 1% of rows become one VERBATIM document (identical
        // (lang, text) ⇒ one md5-uid dedup key at 1% of corpus
        // volume); a further ~30% get one fixed 12-token paragraph
        // PREFIXED (segment-aligned, so paragraph/ngram queries see one
        // gram/paragraph key carried by a third of the corpus).
        // Everything else — ids, counts, the other tables — matches the
        // uniform fixture, so wall-clock deltas are attributable to the
        // degenerate keys alone.
        if (!hotKey) docs
        else docs.withColumn("text",
          when(pmod(col("doc_id"), lit(100)) === 0, lit(HotDupText))
            .when(pmod(col("doc_id"), lit(10)) < 3,
              concat(lit(HotParagraph + " "), col("text")))
            .otherwise(col("text")))
      // events: replicas shift event_id AND user_id (per-user
      // partitions — sessions, rolling frames — keep their base size;
      // counts grow), while ts stays put: 10× the corpus in the same
      // wall-clock window IS what 10× traffic looks like to the
      // windowed/temporal queries. Readable since the fixtures moved to
      // TIMESTAMP(MICROS) (QueryUtil.normalizeTs); the old NANOS
      // vintage could not round-trip a Spark write, which is why events
      // replication is GenVersion 3+.
      case "events" => evBase
        .withColumn("event_id", col("event_id") + lit(k * spanEv))
        .withColumn("user_id", col("user_id") + lit(k * spanUser))
      case "embeddings" =>
        val shifted = base(t)
          .withColumn("vec_id", col("vec_id") + lit(k * spanVec))
        // replica 0 must be BYTE-IDENTICAL to the base (the superset
        // premise the q_semdedup under-parallelization argument rests
        // on) — only k > 0 replicas get the separating jitter
        if (k == 0) shifted
        else shifted.withColumn("embedding",
          // positional transform so the jitter varies per dimension.
          // NOT zip_with over sequence(0, size-1): on an empty array
          // sequence(0, -1) counts DOWN to [0, -1] and zip_with would
          // null-pad a 2-element array where an empty one belongs. The
          // index lambda yields identical values on non-empty arrays
          // (same hash inputs), so existing fixture sets stay valid.
          transform(col("embedding"),
            (x, i) => x + ((pmod(hash(col("vec_id"), lit(k), i),
              lit(2001)) - lit(1000)).cast("float") / lit(100000.0f))))
    }

    tables.foreach { t =>
      val marker = new java.io.File(dir, s"_SCALE_OK_${t}_$tag")
      if (!marker.exists()) {
        Option(dir.listFiles()).foreach(
          _.filter(_.getName.startsWith(s"_SCALE_OK_${t}_"))
            .foreach(_.delete()))
        val ks = if (t == "region" || t == "nation") Seq(0) else 0 until factor
        ks.grouped(chunk).zipWithIndex.foreach { case (batch, i) =>
          batch.map(replica(t, _)).reduce(_ unionByName _)
            .write.mode(if (i == 0) "overwrite" else "append")
            .parquet(s"$outDir/$t.parquet")
        }
        require(marker.createNewFile() || marker.exists(),
          s"could not write scale marker $marker")
      }
    }
  }

  /** WAT archive with `factor`× the single-file bench records. */
  private def scaledWat(factor: Int): Seq[String] = {
    val (n, rec, links) = graft.wat.WatFixture.BenchSingle
    graft.wat.WatFixture.ensureBenchWats(n, rec * factor, links)
  }

  /** What every scenario shares: the session, the one listener, the
    * warm-up and the timer.
    */
  final class Harness(val spark: SparkSession, val master: String,
      val cores: Int) {
    val trace: obs.QueryTrace = obs.QueryTrace.attach(spark)
    val passes: Int =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt

    /** Runs `body` once, untimed, to pull codegen compile, class loading
      * and fixture listing out of the timed passes; a failure is
      * reported, not fatal.
      */
    def warm(label: String)(body: => Any): Unit =
      try body
      catch { case e: Throwable =>
        System.err.println(s"[scale] warmup $label failed: $e")
      }

    /** Minimum wall seconds over `n` runs of `body`, and the last run's
      * result.
      */
    def best[T](n: Int = passes)(body: => T): (Double, T) = {
      require(n >= 1, s"passes: $n")
      var wall = Double.MaxValue
      var out: Option[T] = None
      for (_ <- 1 to n) {
        val t0 = System.nanoTime()
        out = Some(body)
        wall = math.min(wall, (System.nanoTime() - t0) / 1e9)
      }
      (wall, out.get)
    }

    /** Counters of `body` alone: reset, run, settle, read. */
    def traced[T](body: => T): (T, obs.QueryTrace.Counters) = {
      trace.reset()
      val out = body
      obs.QueryTrace.settle()
      (out, trace.counters)
    }
  }

  /** The master every probe runs on and the cores to pass
    * [[SessionBuilder.forMaster]] with it: `SPARK_GRAFT_MASTER`, else
    * `local[SPARK_GRAFT_CPUS]`; `SPARK_GRAFT_CPUS` defaults to 32.
    */
  def masterFromEnv(): (String, Int) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // `local-cluster[n,c,m]` runs n SEPARATE executor JVMs with c cores
    // and m MB each — real inter-executor shuffle (serialize → write
    // shuffle files → fetch over the block transfer service) instead of
    // local[*]'s shared-memory pass-through: the first regime a 100 TB
    // deployment actually hits and the one local[32] cannot exercise
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    (master, cpus)
  }

  type Scenario = (Harness, Seq[String]) => Unit

  val Scenarios: Map[String, Scenario] = Map(
    "queries" -> queries,
    "bigscale" -> bigscale,
    "ccindex" -> scale.ArchiveScenarios.ccIndex,
    "warc" -> scale.ArchiveScenarios.warc,
    "cc" -> scale.OperatorScenarios.cc,
    "fuzzy" -> scale.OperatorScenarios.fuzzy,
    "politeness" -> scale.OperatorScenarios.politeness,
    "robots" -> scale.OperatorScenarios.robots,
    "doc" -> scale.DecodeScenarios.doc,
    "media" -> scale.DecodeScenarios.media)

  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("queries")
    // looked up before any session is built
    val run = Scenarios.getOrElse(name,
      throw new IllegalArgumentException(s"unknown scenario '$name'; " +
        s"valid: ${Scenarios.keys.toSeq.sorted.mkString(", ")}"))
    val (master, cpus) = masterFromEnv()
    val spark = SessionBuilder.forMaster(master, cpus,
      appName = s"scale-$name")
    spark.sparkContext.setLogLevel("ERROR")
    // the task cores the session's master fixes (bare `local` ran as
    // local[cpus]); a cluster manager's master reports SPARK_GRAFT_CPUS
    val cores = SessionBuilder.masterCores(spark.sparkContext.master)
      .getOrElse(cpus)
    try run(new Harness(spark, master, cores), args.toSeq.drop(1))
    finally spark.stop()
  }

  /** One JSON object of per-query seconds at `baseDir` and `outDir`:
    * each query warmed once at `SPARK_GRAFT_WARM_DIR`, then timed at
    * both points (base skipped under `SPARK_GRAFT_SCALED_ONLY=1`) with
    * the spill and failed tasks of the scaled passes. `scaledFrame`
    * replaces a query's frame at the scaled point.
    */
  private def timeQueries(h: Harness, baseDir: String, outDir: String,
      defaults: Seq[String])(
      scaledFrame: PartialFunction[String, DataFrame]): String = {
    // comma-separated override for targeted probes
    val names = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaults)
    // skip the base-scale timing (memory sweeps care only about the
    // scaled point; base at 8 GB heap would measure nothing new)
    val scaledOnly = sys.env.get("SPARK_GRAFT_SCALED_ONLY").contains("1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    names.foreach(n => h.warm(n) {
      SparkEntry.queries(n)(h.spark, warmDir).queryExecution.toRdd.count()
    })
    def time(name: String, dir: String,
        frame: => DataFrame): (Option[Double], obs.QueryTrace.Counters) =
      h.traced {
        try Some(h.best()(frame.queryExecution.toRdd.count())._1)
        catch { case e: Throwable =>
          System.err.println(s"[scale] $name failed at $dir: ${e.getMessage}")
          None
        }
      }
    def j(o: Option[Double]) = o.map(v => f"$v%.3f").getOrElse("null")
    names.map { name =>
      val tBase = if (scaledOnly) None
        else time(name, baseDir, SparkEntry.queries(name)(h.spark, baseDir))._1
      val (tScaled, c) = time(name, outDir,
        scaledFrame.applyOrElse(name,
          (n: String) => SparkEntry.queries(n)(h.spark, outDir)))
      val ratio = for (b <- tBase; s <- tScaled) yield s / b
      f""""$name":{"base":${j(tBase)},"scaled":${j(tScaled)},""" +
        f""""ratio":${j(ratio)},"spill_mb":${c.spillBytes / 1e6}%.1f,""" +
        f""""failed_tasks":${c.failedTasks}}"""
    }.mkString("{", ",", "}")
  }

  private def queries(h: Harness, args: Seq[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // degenerate-key fixture variant (see generate): compare its wall
    // against the uniform run at the same volume to price skew
    val hotKey = sys.env.get("SPARK_GRAFT_HOTKEY").contains("1")
    generate(h.spark, baseDir, outDir, factor, hotKey = hotKey)
    graft.wat.WatFixture.ensureSingle()
    val wats = scaledWat(factor)
    val body = timeQueries(h, baseDir, outDir, ProbeQueries) {
      case "q_wat_extract_1file" =>
        graft.wat.WatExtract.fromPaths(h.spark, wats, "image_only").toDF()
    }
    println(s"""{"metric":"scale_probe","factor":$factor,"master":"${h.master}","hotkey":$hotKey,"base":"$baseDir","scaled":"$outDir","queries":$body}""")
  }

  /** The ×1000 content set, and the relational tables the storage-layer
    * ×1000 probes (q_bucket_join_read, q_fuzzy_lookup) join.
    */
  private val ContentTables = Seq("documents", "embeddings")
  private val RelationalTables = Seq("customer", "orders", "lineitem")

  private def bigscale(h: Harness, args: Seq[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse(
      new java.io.File(graft.wat.WatFixture.repoRoot, "scale_data/sf100").getPath)
    val factor = args.lift(2).map(_.toInt).getOrElse(1000)
    val rel = sys.env.get("SPARK_GRAFT_BIGSCALE_REL").contains("1")
    val t0 = System.nanoTime()
    generate(h.spark, baseDir, outDir, factor,
      tables = ContentTables ++ (if (rel) RelationalTables else Nil))
    System.err.println(f"[bigscale] fixtures x$factor ready in " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s")
    val body = timeQueries(h, baseDir, outDir,
      Seq("q_bpe_encode", "q_collocations", "q_semdedup"))(
      PartialFunction.empty)
    println(s"""{"metric":"bigscale_probe","factor":$factor,"base":"$baseDir","scaled":"$outDir","queries":$body}""")
  }
}
