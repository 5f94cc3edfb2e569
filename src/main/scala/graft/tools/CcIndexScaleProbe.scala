package graft.tools

import org.apache.spark.sql.functions._

import graft.wat.{CcIndex, WatFixture}

/** Prices the index-driven ranged-fetch path (graft.wat.CcIndex)
  * across record-count decades and against the whole-file scan at a
  * selectivity sweep — the SCALING.md evidence for the targeted
  * access pattern.
  *
  * Two claims to measure:
  *  1. per-record ranged-fetch cost stays flat across decades (the
  *     shuffle moves only (path, offset, length) triples; tasks are
  *     region-bounded) — records/s/core at 8/32/128 archives;
  *  2. the selectivity crossover: at low selectivity the ranged path
  *     reads only the selected members and beats the whole-file scan;
  *     near 100% the whole-file scan's sequential decode wins — the
  *     real-CC rule of thumb for when to use which.
  *
  * Run: sbt "runMain graft.tools.CcIndexScaleProbe [decades]"
  */
object CcIndexScaleProbe {

  private def time2(f: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    for (_ <- 1 to 2) {
      val t0 = System.nanoTime()
      rows = f
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val decades = args.lift(0).map(_.toInt).getOrElse(3)
    // optional leg filter (fetch|revisit|selectivity|cdxj|lookup):
    // the top-decade legs disturb each other through JVM/page-cache
    // pressure — clean-JVM adjudication runs one leg alone
    def wantLeg(name: String): Boolean = args.lift(1).forall(_ == name)
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.SessionBuilder.local(cores, appName = "ccindex-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def indexOver(paths: Seq[String]) =
      CcIndex.buildIndex(spark, paths,
        mimeOf = _ => "text/html", statusOf = _ => 200)

    // warm-up
    locally {
      val w = WatFixture.ensureBenchWarcs(1, 50, 5)
      CcIndex.fetchHtmlPages(indexOver(w)).count()
    }

    // decade sweep: 8 -> 32 -> 128 archives x 500 records, fetch ALL
    for (d <- 0 until decades if wantLeg("fetch")) {
      val n = 8 * math.pow(4, d).toInt
      val warcs = WatFixture.ensureBenchWarcs(n, 500, 20)
      val idx = indexOver(warcs).cache()
      val total = idx.count()
      val (t, rows) = time2(CcIndex.fetchHtmlPages(idx).count())
      println(f"decade d=$d archives=$n records=$total " +
        f"fetched=$rows wall=$t%.2fs " +
        f"rate=${rows / t}%.0f rec/s (${rows / t / cores}%.0f rec/s/core)")
      idx.unpersist()
    }

    // revisit-resolution decades: 20% of index rows arrive as
    // warc/revisit pointers; resolveRevisits must stay a combinable
    // one-capture-per-digest agg + narrow equi-join (no window) — the
    // overhead axis is resolution time vs the plain fetch
    for (d <- 0 until decades if wantLeg("revisit")) {
      val n = 8 * math.pow(4, d).toInt
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
      val (pt, pRows) = time2(CcIndex.fetchHtmlPages(idx).count())
      val (jt, jRows) = time2(CcIndex.resolveRevisits(cur, idx).count())
      val (rt, rRows) = time2(CcIndex.fetchHtmlPages(
        CcIndex.resolveRevisits(cur, idx)).count())
      require(rRows == total && pRows == total && jRows == total,
        s"revisit resolution lost rows: $rRows/$pRows/$jRows of $total")
      println(f"revisit d=$d records=$total plain=$pt%.2fs " +
        f"joinOnly=$jt%.2fs resolved=$rt%.2fs " +
        f"(${rt / pt}%.2fx overhead for the digest join)")
      if (d == decades - 1) { // top-decade breakdown
        val (at, _) = time2(idx
          .where(col("content_mime_type") =!= "warc/revisit")
          .groupBy(col("content_digest"))
          .agg(min(struct(col("warc_filename"),
            col("warc_record_offset"), col("warc_record_length"))))
          .count())
        val (st, _) = time2(
          cur.where(col("content_mime_type") =!= "warc/revisit")
            .select("url", "content_digest", "warc_filename",
              "warc_record_offset", "warc_record_length").count())
        val packed = concat_ws("\u0000", col("warc_filename"),
          lpad(col("warc_record_offset").cast("string"), 19, "0"),
          lpad(col("warc_record_length").cast("string"), 19, "0"))
        val (pt2, _) = time2(idx
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
    // (leg: selectivity)
    // sides force the html column (sum of lengths) so neither can
    // prune the decode; note local disk makes whole-file reads
    // unrealistically cheap vs S3 (no network bytes saved), so the
    // crossover here is a PESSIMISTIC bound for the ranged path.
    val warcs = WatFixture.ensureBenchWarcs(
      8 * math.pow(4, math.max(0, decades - 1)).toInt, 500, 20)
    val idx = indexOver(warcs).cache()
    idx.count()
    def forceHtml(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(length(col("html")))).head().getLong(0)
    val (fullT, fullB) = time2(forceHtml(
      spark.read.format("warc").load(warcs: _*)
        .select(col("page_url"), col("html"))))
    println(f"whole-file scan: htmlBytes=$fullB wall=$fullT%.2fs")
    for (pct <- Seq(1, 10, 50, 100)) {
      val sel = idx.where(
        abs(hash(col("url"))) % 100 < lit(pct))
      val (t, b) = time2(forceHtml(CcIndex.fetchHtmlPages(sel)))
      println(f"ranged pct=$pct%3d%%: htmlBytes=$b wall=$t%.2fs " +
        f"(vs whole-file $fullT%.2fs -> ${fullT / t}%.2fx)")
    }
    idx.unpersist()

    // CDXJ parse decades: a real index is ~300M text lines — price
    // lines/s through the gzip + line-grammar + JSON path (one task
    // per shard), and the delta anti-join on top of the parsed frame
    locally {
      import graft.wat.Cdxj
      val tmp = java.nio.file.Files.createTempDirectory("cdxj-probe")
      def shardsFor(n: Int): Seq[String] = {
        val warcs = WatFixture.ensureBenchWarcs(n, 500, 20)
        val rows = indexOver(warcs).collect()
        val byFile = rows.groupBy(_.getAs[String]("warc_filename"))
        warcs.zipWithIndex.map { case (w, i) =>
          val f = tmp.resolve(s"probe-$n-$i.cdxj.gz").toFile
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
        val n = 8 * math.pow(4, d).toInt
        val shards = shardsFor(n)
        val (t, lines) = time2(Cdxj.indexFrame(spark, shards).count())
        println(f"cdxj d=$d shards=$n lines=$lines wall=$t%.2fs " +
          f"rate=${lines / t}%.0f lines/s")
        // the incremental pattern: previous (url, digest) anti-join —
        // two narrow frames, url-keyed shuffle
        val cur = Cdxj.indexFrame(spark, shards)
        val prev = Cdxj.indexFrame(spark, shards)
          .where(abs(hash(col("url"))) % 10 =!= 0)
          .select(col("url"), col("content_digest"))
        val (dt, kept) = time2(
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
    locally {
      import graft.wat.Cdxj
      val tmp = java.nio.file.Files.createTempDirectory("cdxj-cluster-probe")
      val blockLines = 100
      for (d <- 0 until decades) {
        val n = 8 * math.pow(4, d).toInt
        val warcs = WatFixture.ensureBenchWarcs(n, 500, 20)
        val lines = indexOver(warcs).collect().map(r =>
          Cdxj.formatLine(r.getAs[String]("url"), "20240101000000",
            r.getAs[String]("content_mime_type"),
            r.getAs[Int]("fetch_status"),
            r.getAs[String]("content_digest"),
            r.getAs[String]("warc_filename"),
            r.getAs[Long]("warc_record_offset"),
            r.getAs[Long]("warc_record_length"))).sorted
        val shards = math.max(4, n / 4)
        val perShard = (lines.length + shards - 1) / shards
        val root = tmp.resolve(s"clu-$n").toFile
        root.mkdirs()
        val idxLines = Seq.newBuilder[String]
        var seq = 0L
        for (i <- 0 until shards) {
          val sl = lines.slice(i * perShard,
            math.min((i + 1) * perShard, lines.length))
          val name = f"cdx-$i%05d.gz"
          val out = new java.io.FileOutputStream(
            new java.io.File(root, name))
          var off = 0L
          for (block <- sl.grouped(blockLines)) {
            val bos = new java.io.ByteArrayOutputStream()
            val gz = new java.util.zip.GZIPOutputStream(bos)
            gz.write(block.map(_ + "\n").mkString.getBytes("UTF-8"))
            gz.close()
            val member = bos.toByteArray
            out.write(member)
            idxLines += Cdxj.formatClusterLine(Cdxj.IdxBlock(
              block.head.split(' ').take(2).mkString(" "), name, off,
              member.length.toLong), seq)
            seq += 1
            off += member.length
          }
          out.close()
        }
        val ciPath = new java.io.File(root, "cluster.idx")
        val iw = new java.io.FileOutputStream(ciPath)
        iw.write(idxLines.result().mkString("\n").getBytes("UTF-8"))
        iw.close()
        val shardPaths = (0 until shards).map(i =>
          new java.io.File(root, f"cdx-$i%05d.gz").getAbsolutePath)
        val prefix = "test,site42)"
        val (ft, fk) = time2(Cdxj.indexFrame(spark, shardPaths)
          .where(col("url_surtkey").startsWith(prefix)).count())
        val blocks = Cdxj.readClusterIdx(ciPath.getAbsolutePath)
        val sel = Cdxj.selectBlocks(blocks, prefix)
        val (lt, lk) = time2(Cdxj.lookupPrefix(spark,
          ciPath.getAbsolutePath, root.getAbsolutePath, prefix).count())
        println(f"lookup d=$d lines=${lines.length} shards=$shards " +
          f"blocks=${blocks.size}: full-scan $fk rows $ft%.2fs, " +
          f"lookup $lk rows $lt%.2fs (${ft / lt}%.2fx), blocks read " +
          f"${sel.size}/${blocks.size} " +
          f"(${100.0 * sel.size / blocks.size}%.1f%% of index I/O)")
        require(fk == lk, s"lookup mismatch: $fk vs $lk")
      }
    }
    spark.stop()
  }
}
