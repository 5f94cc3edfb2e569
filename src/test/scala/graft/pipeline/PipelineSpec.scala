package graft.pipeline

import java.io.File
import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

import graft.{GraftLocalFileSystem, ProcessStarts, SparkTestBase}
import graft.ops.PartMerge
import graft.wat.WatFixture

/** End-to-end pipeline: multipart split, per-part write, merge-dedup,
  * manifest, `_SUCCESS`-based resume (C1–C4).
  */
class PipelineSpec extends AnyFunSuite {

  private val tmp = Files.createTempDirectory("pipeline").toFile
  private val wat1 = WatFixture.write(new File(tmp, "w1.warc.wat.gz").getAbsolutePath)
  private val wat2 = WatFixture.write(new File(tmp, "w2.warc.wat.gz").getAbsolutePath)
  private val factory = () => graft.SparkTestBase.fresh()

  test("multipart run: parts + merged + manifest + dedup across parts") {
    val out = new File(tmp, "out").getAbsolutePath
    val cfg = Cc2Config(outputPath = out, documentType = "image",
      multipart = Some(2), shuffle = true)
    val (jobPath, n) = Cc2Dataset.run(cfg, Seq(wat1, wat2), factory)

    // the two identical WAT files fully collapse under global dedup
    assert(n == 2) // image golden: 2 distinct uids
    assert(new File(s"$jobPath/part_0/_SUCCESS").exists())
    assert(new File(s"$jobPath/part_1/_SUCCESS").exists())
    assert(new File(s"$jobPath/merged/_SUCCESS").exists())

    val spark = factory()
    assert(PartMerge.readManifest(spark, jobPath) == Seq(wat1, wat2))
    assert(PartMerge.lastSuccessfulPart(spark, jobPath) == 1)

    val merged = spark.read.parquet(s"$jobPath/merged")
    assert(merged.columns.sorted.sameElements(
      Array("alt", "cc_filename", "page_url", "uid", "url")))
    assert(merged.count() == 2)
    assert(merged.select("uid").distinct().count() == 2)

    // resume: all parts already done → only the merge re-runs
    val cfg2 = cfg.copy(resume = Some(jobPath))
    val (jobPath2, n2) = Cc2Dataset.run(cfg2, Nil, factory)
    assert(jobPath2 == jobPath)
    assert(n2 == 2)
  }

  test("single-part run writes directly to the job path") {
    val out = new File(tmp, "out_single").getAbsolutePath
    val cfg = Cc2Config(outputPath = out, documentType = "audio",
      multipart = None, shuffle = false)
    val (jobPath, n) = Cc2Dataset.run(cfg, Seq(wat1), factory)
    assert(n == 2) // audio golden post-dedup
    assert(new File(s"$jobPath/_SUCCESS").exists())
  }

  test("multipart output == single-part output (C1/C2 equivalence)") {
    val wat3 = WatFixture.syntheticWat(
      new File(tmp, "w3.warc.wat.gz").getAbsolutePath, 40, 10, seed = 5L)
    val wat4 = WatFixture.syntheticWat(
      new File(tmp, "w4.warc.wat.gz").getAbsolutePath, 40, 10, seed = 6L)
    val single = new File(tmp, "eq_single").getAbsolutePath
    val multi = new File(tmp, "eq_multi").getAbsolutePath
    val (p1, n1) = Cc2Dataset.run(
      Cc2Config(single, "image", multipart = None, shuffle = false),
      Seq(wat3, wat4), factory)
    val (p2, n2) = Cc2Dataset.run(
      Cc2Config(multi, "image", multipart = Some(2), shuffle = false),
      Seq(wat3, wat4), factory)
    assert(n1 == n2 && n1 > 0)
    val spark = factory()
    assert(new File(s"$p2/part_0/_SUCCESS").exists())
    assert(new File(s"$p2/part_1/_SUCCESS").exists())
    // each part and the merge hold one file per populated bucket, every
    // file holds one bucket, and no write leaves its catalog table behind
    val files = graft.ops.Shuffle.outputPartitions(2)
    Seq(s"$p2/part_0", s"$p2/part_1", s"$p2/merged").foreach { dir =>
      val byFile = OutputWriteSpec.fileBuckets(spark, dir, files)
      assert(byFile.nonEmpty &&
        byFile.size == OutputWriteSpec.populatedBuckets(spark, dir, files), dir)
      assert(byFile.values.forall { case (named, held) => held == Set(named) }, dir)
    }
    assert(OutputWriteSpec.outputTables(spark).isEmpty)
    val a = spark.read.parquet(p1).select("uid", "url", "alt")
      .collect().map(_.toString).sorted
    val b = spark.read.parquet(s"$p2/merged").select("uid", "url", "alt")
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("streaming intake + merge == batch pipeline output") {
    val sdir = new File(tmp, "intake_src"); sdir.mkdirs()
    val w7 = WatFixture.syntheticWat(
      new File(sdir, "w7.warc.wat.gz").getAbsolutePath, 40, 10, seed = 25L)
    val out = new File(tmp, "intake_out").getAbsolutePath
    val spark = factory()
    val q = Cc2Dataset.startStreamingIntake(spark,
      Seq(s"${sdir.getAbsolutePath}/*.warc.wat.gz"), "image", out,
      maxFilesPerTrigger = 1)
    try {
      q.processAllAvailable()
      // a second archive lands while the intake runs
      val w8 = WatFixture.syntheticWat(
        new File(sdir, "w8.warc.wat.gz").getAbsolutePath, 40, 10, seed = 26L)
      q.processAllAvailable()
      val n = Cc2Dataset.mergeStreamed(spark, out, watCount = 2,
        shuffle = false, seed = 1L)
      val (batchPath, nBatch) = Cc2Dataset.run(
        Cc2Config(new File(tmp, "intake_batch").getAbsolutePath, "image",
          multipart = None, shuffle = false),
        Seq(w7, w8), () => spark)
      assert(n == nBatch && n > 0)
      val a = spark.read.parquet(s"$out/merged").select("uid", "url", "alt")
        .collect().map(_.toString).sorted
      val b = spark.read.parquet(batchPath).select("uid", "url", "alt")
        .collect().map(_.toString).sorted
      assert(a.sameElements(b))
    } finally q.stop()
  }

  test("manifest intake + merge == batch pipeline output") {
    val adir = new File(tmp, "mintake_arch"); adir.mkdirs()
    val mdir = new File(tmp, "mintake_man"); mdir.mkdirs()
    val w9 = WatFixture.syntheticWat(
      new File(adir, "w9.warc.wat.gz").getAbsolutePath, 40, 10, seed = 27L)
    val out = new File(tmp, "mintake_out").getAbsolutePath
    val spark = factory()
    java.nio.file.Files.write(new File(mdir, "wat.paths.1").toPath,
      s"$w9\n".getBytes("UTF-8"))
    val q = Cc2Dataset.startManifestIntake(spark,
      s"${mdir.getAbsolutePath}/wat.paths.*", "image", out)
    try {
      q.processAllAvailable()
      // a second manifest lands while the intake runs
      val w10 = WatFixture.syntheticWat(
        new File(adir, "w10.warc.wat.gz").getAbsolutePath, 40, 10, seed = 28L)
      java.nio.file.Files.write(new File(mdir, "wat.paths.2").toPath,
        s"$w10\n".getBytes("UTF-8"))
      q.processAllAvailable()
      val n = Cc2Dataset.mergeStreamed(spark, out, watCount = 2,
        shuffle = false, seed = 1L)
      val (batchPath, nBatch) = Cc2Dataset.run(
        Cc2Config(new File(tmp, "mintake_batch").getAbsolutePath, "image",
          multipart = None, shuffle = false),
        Seq(w9, w10), () => spark)
      assert(n == nBatch && n > 0)
      val a = spark.read.parquet(s"$out/merged").select("uid", "url", "alt")
        .collect().map(_.toString).sorted
      val b = spark.read.parquet(batchPath).select("uid", "url", "alt")
        .collect().map(_.toString).sorted
      assert(a.sameElements(b))
    } finally q.stop()
  }

  test("CLI battery: multipart(2) + resume, all via flags") {
    // non-default knobs through the C5 surface: two parts, audio doc
    // type, no shuffle, then a resume of the finished job
    val out = new File(tmp, "out_cli").getAbsolutePath
    def runCli(args: String*): (String, Long) = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.Main.main(args.toArray)
      }
      val json = buf.toString("UTF-8").linesIterator
        .find(_.startsWith("{\"output\""))
        .getOrElse(fail(s"no result JSON in CLI output:\n$buf"))
      val path = json.split("\"")(3)
      val rows = json.split(":").last.stripSuffix("}").trim.toLong
      (path, rows)
    }
    val (jobPath, n) = runCli(
      "--output_path", out, "--document_type", "audio",
      "--wat_paths", s"$wat1,$wat2", "--multipart", "2",
      "--shuffle", "false")
    assert(n == 2) // audio golden post-dedup
    assert(new File(s"$jobPath/part_0/_SUCCESS").exists())
    assert(new File(s"$jobPath/part_1/_SUCCESS").exists())
    assert(new File(s"$jobPath/merged/_SUCCESS").exists())
    // resume through the CLI: parts complete -> only the merge re-runs,
    // same job path, same count (wat inputs come from the manifest)
    val (resumePath, n2) = runCli(
      "--output_path", out, "--document_type", "audio",
      "--multipart", "2", "--resume", jobPath, "--shuffle", "false")
    assert(resumePath == jobPath)
    assert(n2 == 2)
  }

  test("the CLI stops its session when the run ends, clean or failed") {
    val out = new File(tmp, "out_cli_stop").getAbsolutePath
    val clean = factory()
    Console.withOut(new java.io.PrintStream(
        new java.io.ByteArrayOutputStream(), true, "UTF-8")) {
      graft.Main.main(Array("--output_path", out, "--document_type", "audio",
        "--wat_paths", wat1))
    }
    assert(clean.sparkContext.isStopped)
    // a failing run (resume requires multipart) stops it too
    val failing = factory()
    assert(!failing.sparkContext.isStopped)
    intercept[IllegalArgumentException] {
      graft.Main.main(Array("--output_path", out, "--resume", out))
    }
    assert(failing.sparkContext.isStopped)
  }

  test("the CLI rejects an unknown flag before it builds a session") {
    def rejected(): String = intercept[IllegalArgumentException] {
      graft.Main.main(Array("--output_path", new File(tmp, "out_flag").getPath,
        "--wat_paths", wat1, "--part_parallelism", "2"))
    }.getMessage
    // with a live context: Main stops any session it builds, so a context
    // left running was never built on
    val live = factory()
    val msg = rejected()
    assert(msg.contains("--part_parallelism"), msg)
    assert(graft.Main.Flags.forall(f => msg.contains(s"--$f")), msg)
    assert(graft.Main.Flags.size == 14)
    assert(!live.sparkContext.isStopped)
    // with none: the rejection leaves none behind
    live.stop()
    rejected()
    assert(org.apache.spark.sql.SparkSession.getDefaultSession
      .forall(_.sparkContext.isStopped))
  }

  test("the CLI rejects a non-positive count flag before it builds a session") {
    def args(flags: String*): Array[String] = Array("--output_path",
      new File(tmp, "out_counts").getPath, "--wat_paths", wat1) ++ flags
    def rejected(flags: String*): String =
      intercept[IllegalArgumentException](graft.Main.main(args(flags: _*)))
        .getMessage
    val live = factory()
    for ((flag, v) <- Seq("multipart" -> "0", "multipart" -> "-1",
        "multipart" -> "all", "wat_count" -> "0", "wat_count" -> "x",
        "wat_index_count" -> "-2")) {
      val msg = rejected(s"--$flag", v)
      assert(msg.contains(s"--$flag") && msg.contains(v), msg)
    }
    // a zero count is rejected by name, not met later as grouped(0)
    val msg = rejected("--wat_count", "0", "--multipart", "2")
    assert(msg.contains("--wat_count"), msg)
    assert(!live.sparkContext.isStopped)
    live.stop()
    // `all` stays the uncapped sentinel for the two counts
    val cfg = graft.Main.config(graft.Main.parseArgs(
      args("--wat_count", "all", "--wat_index_count", "all",
        "--multipart", "3")))
    assert(cfg.watCount.isEmpty && cfg.watIndexCount.isEmpty)
    assert(cfg.multipart.contains(3))
  }

  test("resume after a crash mid-job rewrites only the unfinished parts") {
    val wats = (0 until 3).map(i => WatFixture.syntheticWat(
      new File(tmp, s"crash$i.warc.wat.gz").getAbsolutePath, 30, 8,
      seed = 40L + i))
    val cfg = Cc2Config(new File(tmp, "out_crash").getAbsolutePath,
      "image", multipart = Some(3), shuffle = true)
    val (jobPath, n) = Cc2Dataset.run(cfg, wats, factory)
    // per merged bucket (the id its file name carries): rows in file order
    def bucketRows(): Map[Int, Seq[String]] = {
      val spark = factory()
      OutputWriteSpec.partFiles(s"$jobPath/merged").map { f =>
        OutputWriteSpec.bucketOf(f) -> spark.read.parquet(f.getAbsolutePath)
          .collect().map(_.toString).toSeq
      }.toMap
    }
    def stamps(dir: String): Seq[(String, Long)] =
      new File(dir).listFiles().toSeq.map(f => (f.getName, f.lastModified))
        .sorted
    val clean = bucketRows()
    assert(clean.nonEmpty && clean.values.map(_.size).sum == n)
    val part0 = stamps(s"$jobPath/part_0")
    // the crash: part_1 never committed, part_2 and the merge never ran
    def rmr(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
    }
    assert(new File(s"$jobPath/part_1/_SUCCESS").delete())
    rmr(new File(s"$jobPath/part_2"))
    rmr(new File(s"$jobPath/merged"))
    val (jobPath2, n2) = Cc2Dataset.run(
      cfg.copy(resume = Some(jobPath)), Nil, factory)
    assert(jobPath2 == jobPath && n2 == n)
    assert(stamps(s"$jobPath/part_0") == part0)
    assert(new File(s"$jobPath/part_1/_SUCCESS").exists())
    assert(new File(s"$jobPath/part_2/_SUCCESS").exists())
    assert(bucketRows() == clean)
  }

  test("listing-page parser is total on hostile HTML and emits only well-formed index urls") {
    val rnd = new scala.util.Random(31)
    val frags = Seq("<li>", "s3://commoncrawl/crawl-data/", "CC-MAIN-",
      "<wbr>", " ", "\n", "[WARC] ", "<html>", " ", "crawl-data",
      "s3://elsewhere/x", "<li>s3://commoncrawl/notcrawl", "é", "</li>")
    (0 until 200).foreach { _ =>
      val html = Seq.fill(rnd.nextInt(30))(frags(rnd.nextInt(frags.size)))
        .mkString
      val out = Cc2Dataset.parseCrawlListingPage(html) // must not throw
      out.foreach { u =>
        assert(u.startsWith("https://data.commoncrawl.org/crawl-data/"),
          s"bad scheme/host from input '$html': $u")
        assert(u.endsWith("/wat.paths.gz"), s"bad suffix: $u")
        assert(!u.contains("<wbr>"), s"unstripped wbr: $u")
      }
    }
  }

  test("minified listing: every <li> entry on one physical line survives") {
    // a minified page puts many entries on one line — first-match-only
    // parsing silently shrank discovery to one crawl per line
    val minified = "<ul><li>s3://commoncrawl/crawl-data/CC-MAIN-2024-10/</li>" +
      "<li>s3://commoncrawl/crawl-data/CC-MAIN-2024-05/</li>" +
      "<li>s3://commoncrawl/crawl-data/CC-MAIN-2023-50/</li></ul>"
    assert(Cc2Dataset.parseCrawlListingPage(minified) == Seq(
      "https://data.commoncrawl.org/crawl-data/CC-MAIN-2024-10/wat.paths.gz",
      "https://data.commoncrawl.org/crawl-data/CC-MAIN-2024-05/wat.paths.gz",
      "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-50/wat.paths.gz"))
    // a bare (non-<li>) mention earlier in the line must not shadow or
    // join the real entries, and duplicates keep first-occurrence order
    val shadow = "see s3://commoncrawl/crawl-data/PROSE-MENTION/ docs " +
      "<li>s3://commoncrawl/crawl-data/CC-MAIN-2023-50/</li>" +
      "<li>s3://commoncrawl/crawl-data/CC-MAIN-2023-50/</li>"
    assert(Cc2Dataset.parseCrawlListingPage(shadow) == Seq(
      "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-50/wat.paths.gz"))
  }

  test("truncated gzip index file fails LOUDLY (discovery must not silently shrink)") {
    // extraction degrades gracefully per-shard, but DISCOVERY losing
    // paths silently would shrink the whole job's input — a truncated
    // index must throw, not return a prefix
    val good = new File(tmp, "idx.paths.gz")
    val out = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(good))
    out.write((1 to 50).map(i => s"crawl-data/wat-$i.warc.wat.gz\n")
      .mkString.getBytes("UTF-8"))
    out.close()
    val bytes = Files.readAllBytes(good.toPath)
    val cut = new File(tmp, "idx_cut.paths.gz")
    Files.write(cut.toPath, bytes.take(bytes.length / 2))
    val spark = factory()
    // intact file reads fully
    assert(Cc2Dataset.readWatIndexFile(spark, good.getAbsolutePath).size == 50)
    intercept[Exception] {
      Cc2Dataset.readWatIndexFile(spark, cut.getAbsolutePath)
    }
  }

  test("resume without multipart is rejected (main.py:352-353)") {
    intercept[IllegalArgumentException] {
      Cc2Dataset.run(Cc2Config(outputPath = "/tmp/x", resume = Some("/tmp/x")),
        Nil, factory)
    }
  }

  test("an API caller's non-positive multipart is rejected before any write") {
    for (m <- Seq(0, -1)) {
      val out = new File(tmp, s"out_multipart$m")
      val msg = intercept[IllegalArgumentException] {
        Cc2Dataset.run(Cc2Config(outputPath = out.getAbsolutePath,
          multipart = Some(m)), Seq(wat1), factory)
      }.getMessage
      assert(msg.contains("multipart") && msg.contains(m.toString), msg)
      assert(!out.exists(), s"multipart=$m wrote $out")
    }
  }

  test("a single-part run forks no chmod: the session's file: filesystem " +
      "sets permissions in-process") {
    // Hadoop caches one `file:` filesystem per JVM: the session's conf
    // must resolve the graft class, not a stock one an earlier lookup
    // with a bare conf fixed
    val local = FileSystem.get(
      URI.create("file:///"), factory().sparkContext.hadoopConfiguration)
    assert(local.getClass == classOf[GraftLocalFileSystem])
    // enough image links to fill most of the write's 256 buckets
    val wat = WatFixture.syntheticWat(
      new File(tmp, "forks.warc.wat.gz").getAbsolutePath, 300, 8, seed = 7L)
    val out = new File(tmp, "out_forks").getAbsolutePath
    val probe = new File(tmp, "chmod_probe")
    assert(probe.createNewFile())
    val ((jobPath, n), commands) = ProcessStarts.during {
      val r = Cc2Dataset.run(Cc2Config(outputPath = out), Seq(wat), factory)
      // the recording sees a stock setPermission's fork, if it makes one
      val stock = new RawLocalFileSystem()
      stock.initialize(URI.create("file:///"), new Configuration())
      stock.setPermission(new Path(probe.getPath),
        new FsPermission(Integer.parseInt("640", 8).toShort))
      r
    }
    assert(n > 0)
    val parquet = new File(jobPath).list().count(_.endsWith(".parquet"))
    assert(parquet > 200) // each with a .crc sidecar
    val chmods = ProcessStarts.chmods(commands)
    assert(chmods.size == ProcessStarts.StockChmods, chmods)
    assert(chmods.forall(_.endsWith(probe.getName)), chmods)
  }

  test("index discovery: read, tail-slice, sample with replacement") {
    // gzip'd index of 10 paths
    val idx = new File(tmp, "wat.paths.gz")
    val gz = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(idx))
    gz.write((1 to 10).map(i => s"crawl/wat$i.warc.wat.gz").mkString("\n").getBytes)
    gz.close()
    val spark = factory()
    val lines = Cc2Dataset.readWatIndexFile(spark, idx.getAbsolutePath)
    assert(lines.size == 10 && lines.head == "crawl/wat1.warc.wat.gz")

    val sampled = Cc2Dataset.readWatIndexFiles(spark,
      Seq(idx.getAbsolutePath), shardCount = Some(1), watCount = Some(20),
      seed = 7L)
    assert(sampled.size == 20) // with replacement: more draws than paths
    assert(sampled.toSet.subsetOf(lines.toSet))

    val shuffled = Cc2Dataset.readWatIndexFiles(spark,
      Seq(idx.getAbsolutePath), shardCount = None, watCount = None, seed = 7L)
    assert(shuffled.sorted == lines.sorted)
  }

  test("http crawl-index discovery rewrites the listing page to https urls") {
    // the reference scrapes this page shape (main.py:215-227): crawl
    // lines as <li>s3:// bullets, some with [WARC] prefixes and <wbr>
    // soft breaks, plus non-crawl lines that must not match
    val page =
      """<html><body><ul>
        |<li>s3://commoncrawl/crawl-data/CC-MAIN-2023-50/ - November 2023
        |[WARC] <li>s3://commoncrawl/crawl-data/CC-<wbr>MAIN-2023-40/ - September 2023
        |<li>s3://commoncrawl/projects/other/ - not crawl data
        |<li>plain text line
        |</ul></body></html>""".stripMargin

    // pure rewrite (X6)
    val parsed = Cc2Dataset.parseCrawlListingPage(page)
    assert(parsed == Seq(
      "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-50/wat.paths.gz",
      "https://data.commoncrawl.org/crawl-data/CC-MAIN-2023-40/wat.paths.gz"))

    // end-to-end over a local http server: discover -> read index -> sample
    val watList = (1 to 5).map(i => s"crawl-data/CC-MAIN-2023-50/wat$i.warc.wat.gz")
    val gzBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(watList.mkString("\n").getBytes("UTF-8")); gz.close()
      bos.toByteArray
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, body: Array[Byte]): Unit =
      server.createContext(path, (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, body.length)
        ex.getResponseBody.write(body)
        ex.close()
      })
    serve("/the-data/get-started/", page.getBytes("UTF-8"))
    Seq("CC-MAIN-2023-50", "CC-MAIN-2023-40").foreach { c =>
      serve(s"/crawl-data/$c/wat.paths.gz", gzBytes)
    }
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val spark = factory()
      val idx = Cc2Dataset.getCcWatLinks(spark, "http",
        httpPage = s"$base/the-data/get-started/")
        .map(_.replace("https://data.commoncrawl.org", base))
      assert(idx.size == 2)
      val sampled = Cc2Dataset.readWatIndexFiles(spark, idx,
        shardCount = Some(1), watCount = Some(8), seed = 3L)
      assert(sampled.size == 8)
      assert(sampled.toSet.subsetOf(watList.toSet))
    } finally server.stop(0)
  }

  test("crawl-index discovery globs crawl dirs (S3 layout parity)") {
    val root = new File(tmp, "crawl-data")
    Seq("CC-MAIN-2023-06", "CC-MAIN-2023-14").foreach { crawl =>
      val d = new File(root, crawl); d.mkdirs()
      val gz = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new File(d, "wat.paths.gz")))
      gz.write(s"$crawl/wat1.warc.wat.gz".getBytes); gz.close()
    }
    val spark = factory()
    val found = Cc2Dataset.discoverCrawlIndexes(spark,
      s"${root.getAbsolutePath}/*/wat.paths.gz")
    assert(found.size == 2 && found.forall(_.endsWith("wat.paths.gz")))
    assert(found == found.sorted) // newest crawl last → tail-slice works
  }
}
