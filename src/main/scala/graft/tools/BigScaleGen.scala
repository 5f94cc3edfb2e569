package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ScaleProbe, SparkEntry}

/** The ×1000 decade (sf100 over the sf0.1 base): generator + targeted
  * probe for the text/embedding corpus only.
  *
  * Why not [[graft.ScaleProbe]]: its `replicas` builds one
  * `factor`-way union plan — fine at ×10/×100, but a 1000-branch union
  * is an analyzer/codegen stress test of the GENERATOR, not of the
  * queries. Here replicas are written in CHUNKS of 50 (20 append
  * batches of a 50-way union), which keeps every plan shallow while
  * producing the identical corpus; only `documents` and `embeddings`
  * are generated because the probe targets the content operators whose
  * cost axis is the document corpus (the relational battery's ×100
  * evidence stands on the full sf10 fixture). Same vocabulary-disjoint
  * rotation model (ScaleProbe ring v5, 1020 symbols) and the same
  * jitter scheme for embeddings.
  *
  * Clean-JVM methodology (the SCALING.md adjudication standard): run
  * ONE query per invocation — generation is marker-idempotent, so the
  * per-query cost of a fresh JVM is one marker stat.
  *
  * Usage:
  *   SPARK_GRAFT_PROBE_QUERIES=q_bpe_encode \
  *     sbt "runMain graft.tools.BigScaleGen <baseDir> <outDir> [factor]"
  */
object BigScaleGen {

  def main(args: Array[String]): Unit = {
    val baseDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/root/repo/scale_data/sf100")
    val factor = args.lift(2).map(_.toInt).getOrElse(1000)
    require(factor >= 1 && factor <= ScaleProbe.MaxFactor,
      s"factor $factor outside [1, ${ScaleProbe.MaxFactor}]")
    val chunk = 50
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val probeQueries = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q_bpe_encode", "q_collocations", "q_semdedup"))
    val spark = graft.SessionBuilder.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    // --- generation (idempotent; marker pins version+factor+base) ---
    val dir = new java.io.File(outDir)
    val baseTag = java.security.MessageDigest.getInstance("MD5")
      .digest(new java.io.File(baseDir).getCanonicalPath.getBytes("UTF-8"))
      .take(4).map("%02x".format(_)).mkString
    val marker = new java.io.File(dir,
      s"_BIGSCALE_OK_v${ScaleProbe.GenVersion}_${factor}_$baseTag")
    if (!marker.exists()) {
      Option(dir.listFiles()).foreach(
        _.filter(_.getName.startsWith("_BIGSCALE_OK")).foreach(_.delete()))
      dir.mkdirs()
      def base(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
      val t0 = System.nanoTime()
      // chunked append: each batch is a shallow <=50-way union; the
      // union of all batches is byte-wise the same corpus ScaleProbe
      // would produce for these two tables
      def writeChunked(t: String)(mk: Int => DataFrame): Unit = {
        (0 until factor).grouped(chunk).zipWithIndex.foreach {
          case (ks, i) =>
            ks.map(mk).reduce(_ unionByName _)
              .write.mode(if (i == 0) "overwrite" else "append")
              .parquet(s"$outDir/$t.parquet")
        }
      }
      val spanDoc = ScaleProbe.span(base("documents"), "doc_id")
      writeChunked("documents") { k =>
        base("documents")
          .withColumn("doc_id", col("doc_id") + lit(k * spanDoc))
          .withColumn("text", ScaleProbe.rot(col("text"), k))
      }
      val spanVec = ScaleProbe.span(base("embeddings"), "vec_id")
      writeChunked("embeddings") { k =>
        val shifted = base("embeddings")
          .withColumn("vec_id", col("vec_id") + lit(k * spanVec))
        if (k == 0) shifted
        else shifted.withColumn("embedding",
          transform(col("embedding"),
            (x, i) => x + ((pmod(hash(col("vec_id"), lit(k), i),
              lit(2001)) - lit(1000)).cast("float") / lit(100000.0f))))
      }
      require(marker.createNewFile() || marker.exists(),
        s"could not write scale marker $marker")
      System.err.println(
        f"[bigscale] generated ×$factor in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    }

    // --- optional relational set (SPARK_GRAFT_BIGSCALE_REL=1): the
    // storage-layer ×1000 probes (q_bucket_join_read, q_fuzzy_lookup)
    // need customer/orders/lineitem at the same factor. Same key-shift
    // scheme as ScaleProbe.generate (names verbatim, keys spanned per
    // replica — consistent joins), same chunked-append plan shape; own
    // marker so the content-corpus marker above keeps its meaning.
    if (sys.env.get("SPARK_GRAFT_BIGSCALE_REL").contains("1")) {
      val relMarker = new java.io.File(dir,
        s"_BIGSCALE_REL_OK_v${ScaleProbe.GenVersion}_${factor}_$baseTag")
      if (!relMarker.exists()) {
        Option(dir.listFiles()).foreach(
          _.filter(_.getName.startsWith("_BIGSCALE_REL_OK"))
            .foreach(_.delete()))
        def base(t: String) = spark.read.parquet(s"$baseDir/$t.parquet")
        def writeChunked(t: String)(mk: Int => DataFrame): Unit = {
          (0 until factor).grouped(chunk).zipWithIndex.foreach {
            case (ks, i) =>
              ks.map(mk).reduce(_ unionByName _)
                .write.mode(if (i == 0) "overwrite" else "append")
                .parquet(s"$outDir/$t.parquet")
          }
        }
        val t0 = System.nanoTime()
        val spanCust = ScaleProbe.span(base("customer"), "c_custkey")
        val spanOrd = ScaleProbe.span(base("orders"), "o_orderkey")
        val spanPart = ScaleProbe.span(base("part"), "p_partkey")
        val spanSupp = ScaleProbe.span(base("supplier"), "s_suppkey")
        writeChunked("customer") { k =>
          base("customer").withColumn("c_custkey",
            col("c_custkey") + lit(k * spanCust))
        }
        writeChunked("orders") { k =>
          base("orders")
            .withColumn("o_orderkey", col("o_orderkey") + lit(k * spanOrd))
            .withColumn("o_custkey", col("o_custkey") + lit(k * spanCust))
        }
        writeChunked("lineitem") { k =>
          base("lineitem")
            .withColumn("l_orderkey", col("l_orderkey") + lit(k * spanOrd))
            .withColumn("l_partkey", col("l_partkey") + lit(k * spanPart))
            .withColumn("l_suppkey", col("l_suppkey") + lit(k * spanSupp))
        }
        require(relMarker.createNewFile() || relMarker.exists(),
          s"could not write scale marker $relMarker")
        System.err.println(f"[bigscale] relational set ×$factor in " +
          f"${(System.nanoTime() - t0) / 1e9}%.0f s")
      }
    }

    // --- probe (same spill/failure accounting as ScaleProbe) ---
    val spill = new ScaleProbe.SpillListener
    spark.sparkContext.addSparkListener(spill)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    probeQueries.foreach { name =>
      try SparkEntry.queries(name)(spark, warmDir)
        .queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[bigscale] warmup $name failed: $e")
      }
    }
    def timeQuery(name: String, d: String): (Option[Double], Double, Long) = {
      val (m0, d0, f0) = spill.snapshot()
      val times = (1 to passes).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          SparkEntry.queries(name)(spark, d).queryExecution.toRdd.count()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bigscale] $name failed at $d: ${e.getMessage}")
          None
        }
      }
      Thread.sleep(300)
      val (m1, d1, f1) = spill.snapshot()
      (times.minOption, ((m1 - m0) + (d1 - d0)) / 1e6, f1 - f0)
    }
    val rows = probeQueries.map { name =>
      val tBase = timeQuery(name, baseDir)._1
      val (tScaled, spillMb, failed) = timeQuery(name, outDir)
      (name, tBase, tScaled, spillMb, failed)
    }
    def j(o: Option[Double]) = o.map(v => f"$v%.3f").getOrElse("null")
    val body = rows.map { case (n, b, s, sp, ft) =>
      val ratio = for (x <- b; y <- s) yield y / x
      f""""$n":{"base":${j(b)},"scaled":${j(s)},"ratio":${j(ratio)},"spill_mb":$sp%.1f,"failed_tasks":$ft}"""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"bigscale_probe","factor":$factor,"base":"$baseDir","scaled":"$outDir","queries":$body}""")
    spark.stop()
  }
}
