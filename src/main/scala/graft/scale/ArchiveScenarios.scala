package graft.scale

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ScaleProbe.Harness
import graft.queries.QueryUtil
import graft.wat.{CcIndex, Cdxj, CdxjSink, WarcExtract, WatExtract, WatFixture}

/** Scale scenarios of the archive paths. */
object ArchiveScenarios {

  /** The `ccindex` legs, in run order. */
  val CcIndexLegs: Seq[String] =
    Seq("fetch", "revisit", "selectivity", "cdxj", "lookup")

  /** The legs a `ccindex` run executes: all of them, or the one the
    * filter names — the top-decade legs disturb each other through
    * JVM/page-cache pressure, so clean-JVM adjudication runs one leg
    * alone.
    */
  def ccIndexLegs(filter: Option[String]): Seq[String] = filter match {
    case None => CcIndexLegs
    case Some(leg) =>
      require(CcIndexLegs.contains(leg),
        s"unknown ccindex leg '$leg'; valid: ${CcIndexLegs.mkString(", ")}")
      Seq(leg)
  }

  /** `ccindex [decades] [leg]`: prices the index-driven ranged-fetch
    * path (graft.wat.CcIndex) across record-count decades and against
    * the whole-file scan at a selectivity sweep — the SCALING.md
    * evidence for the targeted access pattern.
    *
    * Two claims to measure:
    *  1. per-record ranged-fetch cost stays flat across decades (the
    *     shuffle moves only (path, offset, length) triples; tasks are
    *     region-bounded) — records/s/core at 8/32/128 archives;
    *  2. the selectivity crossover: at low selectivity the ranged path
    *     reads only the selected members and beats the whole-file scan;
    *     near 100% the whole-file scan's sequential decode wins — the
    *     real-CC rule of thumb for when to use which.
    * Then the CDXJ parse decades and the cluster.idx lookup against a
    * full-scan filter.
    */
  def ccIndex(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val cores = h.cores
    val decades = args.lift(0).map(_.toInt).getOrElse(3)
    val legs = ccIndexLegs(args.lift(1))
    def archives(d: Int) = 8 * math.pow(4, d).toInt

    def indexOver(paths: Seq[String]) =
      CcIndex.buildIndex(spark, paths,
        mimeOf = _ => "text/html", statusOf = _ => 200)

    h.warm("ccindex") {
      val w = WatFixture.ensureBenchWarcs(1, 50, 5)
      CcIndex.fetchHtmlPages(indexOver(w)).count()
    }

    // decade sweep: 8 -> 32 -> 128 archives x 500 records, fetch ALL
    def fetch(): Unit = for (d <- 0 until decades) {
      val n = archives(d)
      val warcs = WatFixture.ensureBenchWarcs(n, 500, 20)
      val idx = indexOver(warcs).cache()
      val total = idx.count()
      val (t, rows) = h.best()(CcIndex.fetchHtmlPages(idx).count())
      println(f"decade d=$d archives=$n records=$total " +
        f"fetched=$rows wall=$t%.2fs " +
        f"rate=${rows / t}%.0f rec/s (${rows / t / cores}%.0f rec/s/core)")
      idx.unpersist()
    }

    // revisit-resolution decades: 20% of index rows arrive as
    // warc/revisit pointers; resolveRevisits must stay a combinable
    // one-capture-per-digest agg + narrow equi-join (no window) — the
    // overhead axis is resolution time vs the plain fetch
    def revisit(): Unit = for (d <- 0 until decades) {
      val n = archives(d)
      val warcs = WatFixture.ensureBenchWarcs(n, 500, 20)
      // coalesce: buildIndex yields ONE partition per archive (512 at
      // d=3), and a cached 512-partition frame pays ~512 task launches
      // PER ACTION — the real table is parquet with few splits, so
      // price the operator, not the fixture's task-count overhead
      // (un-coalesced, the same agg read 3.4s instead of 0.2s)
      val idx = indexOver(warcs).coalesce(cores).cache()
      val total = idx.count()
      val cur = idx.withColumn("content_mime_type",
        when(abs(hash(col("url"))) % 5 === 0, lit("warc/revisit"))
          .otherwise(col("content_mime_type")))
      val (pt, pRows) = h.best()(CcIndex.fetchHtmlPages(idx).count())
      val (jt, jRows) = h.best()(CcIndex.resolveRevisits(cur, idx).count())
      val (rt, rRows) = h.best()(CcIndex.fetchHtmlPages(
        CcIndex.resolveRevisits(cur, idx)).count())
      require(rRows == total && pRows == total && jRows == total,
        s"revisit resolution lost rows: $rRows/$pRows/$jRows of $total")
      println(f"revisit d=$d records=$total plain=$pt%.2fs " +
        f"joinOnly=$jt%.2fs resolved=$rt%.2fs " +
        f"(${rt / pt}%.2fx overhead for the digest join)")
      if (d == decades - 1) { // top-decade breakdown
        val (at, _) = h.best()(idx
          .where(col("content_mime_type") =!= "warc/revisit")
          .groupBy(col("content_digest"))
          .agg(min(struct(col("warc_filename"),
            col("warc_record_offset"), col("warc_record_length"))))
          .count())
        val (st, _) = h.best()(
          cur.where(col("content_mime_type") =!= "warc/revisit")
            .select("url", "content_digest", "warc_filename",
              "warc_record_offset", "warc_record_length").count())
        val packed = concat_ws("\u0000", col("warc_filename"),
          lpad(col("warc_record_offset").cast("string"), 19, "0"),
          lpad(col("warc_record_length").cast("string"), 19, "0"))
        val (pt2, _) = h.best()(idx
          .where(col("content_mime_type") =!= "warc/revisit")
          .groupBy(col("content_digest"))
          .agg(min(packed))
          .count())
        println(f"revisit-breakdown d=$d aggOnly=$at%.2fs " +
          f"packedAgg=$pt2%.2fs responsesScan=$st%.2fs")
      }
      idx.unpersist()
    }

    // selectivity sweep on the top shape: ranged vs whole-file. BOTH
    // sides force the html column (sum of lengths) so neither can
    // prune the decode; note local disk makes whole-file reads
    // unrealistically cheap vs S3 (no network bytes saved), so the
    // crossover here is a PESSIMISTIC bound for the ranged path.
    def selectivity(): Unit = {
      val warcs = WatFixture.ensureBenchWarcs(
        archives(math.max(0, decades - 1)), 500, 20)
      val idx = indexOver(warcs).cache()
      idx.count()
      def forceHtml(df: DataFrame): Long =
        df.agg(sum(length(col("html")))).head().getLong(0)
      val (fullT, fullB) = h.best()(forceHtml(
        spark.read.format("warc").load(warcs: _*)
          .select(col("page_url"), col("html"))))
      println(f"whole-file scan: htmlBytes=$fullB wall=$fullT%.2fs")
      for (pct <- Seq(1, 10, 50, 100)) {
        val sel = idx.where(
          abs(hash(col("url"))) % 100 < lit(pct))
        val (t, b) = h.best()(forceHtml(CcIndex.fetchHtmlPages(sel)))
        println(f"ranged pct=$pct%3d%%: htmlBytes=$b wall=$t%.2fs " +
          f"(vs whole-file $fullT%.2fs -> ${fullT / t}%.2fx)")
      }
      idx.unpersist()
    }

    // CDXJ parse decades: a real index is ~300M text lines — price
    // lines/s through the gzip + line-grammar + JSON path (one task
    // per shard), and the delta anti-join on top of the parsed frame
    def cdxj(): Unit = {
      val tmp = new java.io.File(QueryUtil.scratchPath("ccindex-cdxj"))
      tmp.mkdirs()
      def shardsFor(n: Int): Seq[String] = {
        val warcs = WatFixture.ensureBenchWarcs(n, 500, 20)
        val rows = indexOver(warcs).collect()
        val byFile = rows.groupBy(_.getAs[String]("warc_filename"))
        warcs.zipWithIndex.map { case (w, i) =>
          val f = new java.io.File(tmp, s"probe-$n-$i.cdxj.gz")
          if (!f.exists()) {
            val out = new java.util.zip.GZIPOutputStream(
              new java.io.FileOutputStream(f))
            for (r <- byFile.getOrElse(w, Array.empty).map(r =>
                Cdxj.formatLine(r.getAs[String]("url"), "20240101000000",
                  r.getAs[String]("content_mime_type"),
                  r.getAs[Int]("fetch_status"),
                  r.getAs[String]("content_digest"), w,
                  r.getAs[Long]("warc_record_offset"),
                  r.getAs[Long]("warc_record_length"))).sorted)
              out.write((r + "\n").getBytes("UTF-8"))
            out.close()
          }
          f.getAbsolutePath
        }
      }
      for (d <- 0 until decades) {
        val n = archives(d)
        val shards = shardsFor(n)
        val (t, lines) = h.best()(Cdxj.indexFrame(spark, shards).count())
        println(f"cdxj d=$d shards=$n lines=$lines wall=$t%.2fs " +
          f"rate=${lines / t}%.0f lines/s")
        // the incremental pattern: previous (url, digest) anti-join —
        // two narrow frames, url-keyed shuffle
        val cur = Cdxj.indexFrame(spark, shards)
        val prev = Cdxj.indexFrame(spark, shards)
          .where(abs(hash(col("url"))) % 10 =!= 0)
          .select(col("url"), col("content_digest"))
        val (dt, kept) = h.best()(
          cur.join(prev, Seq("url", "content_digest"), "left_anti")
            .count())
        println(f"delta d=$d: ${kept} of $lines new wall=$dt%.2fs")
      }
    }

    // cluster.idx targeted lookup vs full-scan filter: one domain's
    // rows out of the whole index. The I/O axis is blocks read — the
    // full scan decompresses EVERY block of every shard, the lookup
    // only the binary-search-selected ones (on S3 that is also the
    // bytes-moved axis)
    def lookup(): Unit = for (d <- 0 until decades) {
      val n = archives(d)
      val idx = indexOver(WatFixture.ensureBenchWarcs(n, 500, 20))
        .withColumn("fetch_time", lit("20240101000000"))
      val root = QueryUtil.scratchPath(s"ccindex-lookup/clu-$n")
      val ciPath = CdxjSink.writeClustered(idx, root,
        shards = math.max(4, n / 4), blockLines = 100)
      val shardPaths = new java.io.File(root).listFiles()
        .filter(_.getName.matches("cdx-\\d{5}\\.gz"))
        .map(_.getAbsolutePath).sorted.toSeq
      val prefix = "test,site42)"
      val (ft, fk) = h.best()(Cdxj.indexFrame(spark, shardPaths)
        .where(col("url_surtkey").startsWith(prefix)).count())
      val blocks = Cdxj.readClusterIdx(ciPath)
      val sel = Cdxj.selectBlocks(blocks, prefix)
      val (lt, lk) = h.best()(
        Cdxj.lookupPrefix(spark, ciPath, root, prefix).count())
      println(f"lookup d=$d lines=${idx.count()} " +
        f"shards=${shardPaths.size} blocks=${blocks.size}: " +
        f"full-scan $fk rows $ft%.2fs, " +
        f"lookup $lk rows $lt%.2fs (${ft / lt}%.2fx), blocks read " +
        f"${sel.size}/${blocks.size} " +
        f"(${100.0 * sel.size / blocks.size}%.1f%% of index I/O)")
      require(fk == lk, s"lookup mismatch: $fk vs $lk")
    }

    val bodies = Map[String, () => Unit]("fetch" -> fetch _,
      "revisit" -> revisit _, "selectivity" -> selectivity _,
      "cdxj" -> cdxj _, "lookup" -> lookup _)
    legs.foreach(bodies(_)())
  }

  /** `warc [factor...]` (default 1 10): prices the raw-WARC HTML
    * extraction path against the WAT path on the SAME pages at fleet
    * shape — the SCALING.md evidence that the beyond-reference source
    * scales like the reference one. Both fleets carry identical seeded
    * link streams (the q_warc_extract parity construction); the WAT
    * files wrap them in the JSON envelope, the WARC files in real HTML
    * inside HTTP response bodies. Extraction wall (count sink) at ×f
    * records per archive, both transports, each through its source.
    */
  def warc(h: Harness, args: Seq[String]): Unit = {
    val spark = h.spark
    val factors = if (args.nonEmpty) args.map(_.toInt) else Seq(1, 10)
    h.warm("warc") {
      WatExtract.fromPaths(spark, WatFixture.ensureBenchWats(1, 50, 5),
        "image_only").toDF().count()
      WarcExtract.fromPaths(spark, WatFixture.ensureBenchWarcs(1, 50, 5),
        "image_only").toDF().count()
    }
    for (f <- factors) {
      val nRec = 500 * f
      val wats = WatFixture.ensureBenchWats(16, nRec, 20)
      val warcs = WatFixture.ensureBenchWarcs(16, nRec, 20)
      val nPages = 16L * nRec
      val (wt, wr) = h.best()(
        WatExtract.fromPaths(spark, wats, "image_only").toDF().count())
      val (ct, cr) = h.best()(
        WarcExtract.fromPaths(spark, warcs, "image_only").toDF().count())
      require(wr == cr, s"parity broken: wat=$wr warc=$cr")
      println(f"x$f%-3d ($nPages%7d pages, $wr%7d image links)  " +
        f"wat=$wt%6.2fs (${nPages / wt}%8.0f pages/s)  " +
        f"warc=$ct%6.2fs (${nPages / ct}%8.0f pages/s)")
    }
  }
}
