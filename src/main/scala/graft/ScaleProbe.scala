package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-probe harness: measures how the most expensive queries actually
  * scale, instead of arguing from plan shape alone.
  *
  * `main(baseDir, outDir, factor)` (defaults: sf0.1, /tmp/graft_sf1, 10)
  *  1. synthesizes a `factor`× fixture set under `outDir` (idempotent);
  *  2. times the probe queries at BOTH scales in one JVM (warmed, min of
  *     2 passes, full-plan `toRdd.count()` — same methodology as
  *     [[Bench]]);
  *  3. prints one JSON line with per-query seconds at each scale and the
  *     t(scaled)/t(base) ratio.
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
  private[graft] def rot(c: Column, k: Int): Column = {
    require(k < MaxFactor, s"replica $k: substitution period is $MaxFactor")
    if (k == 0) c
    else translate(c, Ring, Ring.drop(k) + Ring.take(k))
  }

  private[graft] def span(df: DataFrame, key: String): Long =
    df.agg(coalesce(max(col(key)), lit(0L)).cast("long")).head().getLong(0) + 1L

  /** Union of `factor` per-replica frames (replica 0 = the base rows). */
  private def replicas(factor: Int)(mk: Int => DataFrame): DataFrame =
    (0 until factor).map(mk).reduce(_ unionByName _)

  /** Bump when the replication model changes — stale fixture sets from
    * an older generator must regenerate, not silently mis-measure.
    * v4: 123-symbol ring substitution (the ×100 decade).
    * v5: ring extended to 1020 BMP letters (the ×1000 decade /
    * BigScaleGen) — rotations ≥ where v4 wrapped produce different
    * text, so v4 fixtures regenerate.
    */
  private[graft] val GenVersion = 5

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

  def generate(spark: SparkSession, baseDir: String, outDir: String,
      factor: Int, hotKey: Boolean = false): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor $factor outside [1, $MaxFactor] (substitution period)")
    val dir = new java.io.File(outDir)
    // the marker must pin EVERY input of the generation — version,
    // factor, AND base corpus — or a rerun against a different baseDir
    // would silently reuse wrong-scale tables
    val baseTag = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(baseDir).getCanonicalPath.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val hkTag = if (hotKey) "_hk" else ""
    val marker = new java.io.File(dir,
      s"_SCALE_OK_v${GenVersion}_${factor}_$baseTag$hkTag")
    if (marker.exists()) return
    // a marker for a DIFFERENT factor or generator version means the
    // shared data dir holds wrong-scale tables — regenerate and drop
    // the stale markers, never reuse silently
    Option(dir.listFiles()).foreach(_.filter(_.getName.startsWith("_SCALE_OK"))
      .foreach(_.delete()))
    dir.mkdirs()
    def base(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$t.parquet")

    // dims: fixed, exactly like TPC-H scaling
    write(base("region"), "region")
    write(base("nation"), "nation")

    val spanCust = span(base("customer"), "c_custkey")
    val spanSupp = span(base("supplier"), "s_suppkey")
    val spanPart = span(base("part"), "p_partkey")
    val spanOrd = span(base("orders"), "o_orderkey")

    write(replicas(factor) { k =>
      base("customer").withColumn("c_custkey",
        col("c_custkey") + lit(k * spanCust))
    }, "customer")
    write(replicas(factor) { k =>
      base("supplier").withColumn("s_suppkey",
        col("s_suppkey") + lit(k * spanSupp))
    }, "supplier")
    write(replicas(factor) { k =>
      base("part").withColumn("p_partkey",
        col("p_partkey") + lit(k * spanPart))
    }, "part")
    write(replicas(factor) { k =>
      base("orders")
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * spanOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(k * spanCust))
    }, "orders")
    write(replicas(factor) { k =>
      base("lineitem")
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * spanOrd))
        .withColumn("l_partkey", col("l_partkey") + lit(k * spanPart))
        .withColumn("l_suppkey", col("l_suppkey") + lit(k * spanSupp))
    }, "lineitem")

    val spanDoc = span(base("documents"), "doc_id")
    val docsScaled = replicas(factor) { k =>
      base("documents")
        .withColumn("doc_id", col("doc_id") + lit(k * spanDoc))
        .withColumn("text", rot(col("text"), k))
    }
    // hot-key variant: the DESIGN.md adversary executed at volume.
    // 1% of rows become one VERBATIM document (identical (lang, text) ⇒
    // one md5-uid dedup key at 1% of corpus volume); a further ~30%
    // get one fixed 12-token paragraph PREFIXED (segment-aligned, so
    // paragraph/ngram queries see one gram/paragraph key carried by a
    // third of the corpus). Everything else — ids, counts, the other
    // tables — matches the uniform fixture, so wall-clock deltas are
    // attributable to the degenerate keys alone.
    write(
      if (!hotKey) docsScaled
      else docsScaled.withColumn("text",
        when(pmod(col("doc_id"), lit(100)) === 0, lit(HotDupText))
          .when(pmod(col("doc_id"), lit(10)) < 3,
            concat(lit(HotParagraph + " "), col("text")))
          .otherwise(col("text"))),
      "documents")

    // events: replicas shift event_id AND user_id (per-user partitions —
    // sessions, rolling frames — keep their base size; counts grow),
    // while ts stays put: 10× the corpus in the same wall-clock window
    // IS what 10× traffic looks like to the windowed/temporal queries.
    // Readable since the fixtures moved to TIMESTAMP(MICROS)
    // (QueryUtil.normalizeTs); the old NANOS vintage could not
    // round-trip a Spark write, which is why events replication is
    // GenVersion 3+.
    val evBase = graft.queries.QueryUtil.events(spark, baseDir)
    val spanEv = span(evBase, "event_id")
    val spanUser = span(evBase, "user_id")
    write(replicas(factor) { k =>
      evBase
        .withColumn("event_id", col("event_id") + lit(k * spanEv))
        .withColumn("user_id", col("user_id") + lit(k * spanUser))
    }, "events")

    val spanVec = span(base("embeddings"), "vec_id")
    write(replicas(factor) { k =>
      val shifted = base("embeddings")
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
    }, "embeddings")

    require(marker.createNewFile() || marker.exists(),
      s"could not write scale marker $marker")
  }

  /** WAT archive with `factor`× the single-file bench records. */
  private def scaledWat(factor: Int): Seq[String] = {
    val (n, rec, links) = graft.wat.WatFixture.BenchSingle
    graft.wat.WatFixture.ensureBenchWats(n, rec * factor, links)
  }

  /** Per-task metrics accumulated across the probe: spill volumes and
    * task failures. TaskEnd-based so numbers flush as tasks finish; the
    * probe snapshots before/after each query (with a short listener-bus
    * settle) to attribute spill per query.
    */
  private[graft] final class SpillListener
      extends org.apache.spark.scheduler.SparkListener {
    val memSpilled = new java.util.concurrent.atomic.AtomicLong
    val diskSpilled = new java.util.concurrent.atomic.AtomicLong
    val taskFailures = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
      }
      te.reason match {
        case org.apache.spark.Success => ()
        case _ => taskFailures.incrementAndGet()
      }
    }
    def snapshot(): (Long, Long, Long) =
      (memSpilled.get, diskSpilled.get, taskFailures.get)
  }

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft_sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // comma-separated override for targeted probes (default: the full set)
    val probeQueries = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(ProbeQueries)
    // SPARK_GRAFT_MASTER switches execution regime. `local-cluster[n,c,m]`
    // runs n SEPARATE executor JVMs with c cores and m MB each — real
    // inter-executor shuffle (serialize → write shuffle files → fetch
    // over the block transfer service) instead of local[*]'s
    // shared-memory pass-through. That is the first regime a 100 TB
    // deployment actually hits and the one local[32] cannot exercise.
    val master = sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]")
    // skip the base-scale timing (memory sweeps care only about the
    // scaled point; base at 8 GB heap would measure nothing new)
    val scaledOnly = sys.env.get("SPARK_GRAFT_SCALED_ONLY").contains("1")
    // degenerate-key fixture variant (see generate): compare its wall
    // against the uniform run at the same volume to price skew
    val hotKey = sys.env.get("SPARK_GRAFT_HOTKEY").contains("1")
    val spark = SessionBuilder.forMaster(master, cpus.toInt)
    spark.sparkContext.setLogLevel("WARN")
    val spill = new SpillListener
    spark.sparkContext.addSparkListener(spill)

    generate(spark, baseDir, outDir, factor, hotKey = hotKey)
    graft.wat.WatFixture.ensureSingle()
    scaledWat(factor)

    // warmup: same rationale as Bench — pull codegen compile + file
    // listing out of the timed passes
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    probeQueries.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir)
        .queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[probe] warmup $name failed: $e")
      }
    }

    /** (min wall, spilled MB across all passes, failed tasks) — spill and
      * failure deltas read from the listener with a short settle so
      * in-flight TaskEnd events land before the snapshot.
      */
    def timeQuery(name: String, dir: String,
        scaled: Boolean): (Option[Double], Double, Long) = {
      def frame(): DataFrame =
        if (name == "q_wat_extract_1file" && scaled)
          graft.wat.WatExtract.fromPaths(spark, scaledWat(factor),
            "image_only").toDF()
        else SparkEntry.queries(name)(spark, dir)
      val (m0, d0, f0) = spill.snapshot()
      val times = (1 to passes).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          frame().queryExecution.toRdd.count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[probe] $name failed at $dir: ${e.getMessage}")
          None
        }
      }
      Thread.sleep(300) // listener-bus settle
      val (m1, d1, f1) = spill.snapshot()
      (times.minOption, ((m1 - m0) + (d1 - d0)) / 1e6, f1 - f0)
    }

    val rows = probeQueries.map { name =>
      val tBase =
        if (scaledOnly) None else timeQuery(name, baseDir, scaled = false)._1
      val (tScaled, spillMb, failedTasks) = timeQuery(name, outDir, scaled = true)
      val ratio = for (b <- tBase; s <- tScaled) yield s / b
      (name, tBase, tScaled, ratio, spillMb, failedTasks)
    }
    def j(o: Option[Double]) = o.map(v => f"$v%.3f").getOrElse("null")
    val body = rows.map { case (n, b, s, r, sp, ft) =>
      f""""$n":{"base":${j(b)},"scaled":${j(s)},"ratio":${j(r)},"spill_mb":$sp%.1f,"failed_tasks":$ft}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe","factor":$factor,"master":"$master","hotkey":$hotKey,"base":"$baseDir","scaled":"$outDir","queries":$body}""")
    spark.stop()
  }
}
