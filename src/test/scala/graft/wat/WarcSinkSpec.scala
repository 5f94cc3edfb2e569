package graft.wat

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The WARC output sink: lossless round trip through the warc source,
  * CC-conventional framing (one gzip member per record), deterministic
  * bytes (retry idempotence), and the full circle — the engine's own
  * output is indexable and ranged-fetchable.
  */
class WarcSinkSpec extends AnyFunSuite with SparkTestBase {

  private def tmpDir(tag: String): java.io.File = {
    val d = java.nio.file.Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d
  }

  test("write → read back is lossless; shards are member-per-record") {
    import spark.implicits._
    val pages = Seq(
      ("https://a.test/1", "<html><body>alpha &amp; beta</body></html>"),
      ("https://a.test/2", "<html><body>second page</body></html>"),
      ("https://b.test/x", "<html><body>third</body></html>"))
      .toDF("page_url", "html")
    val dir = tmpDir("warc-sink")
    val manifest = WarcSink.writePages(pages.repartition(2),
      dir.getAbsolutePath).collect()
    assert(manifest.map(_.getAs[Long]("records")).sum == 3L)
    val written = manifest.map(_.getAs[String]("path")).sorted
    // every record is its own gzip member (the re-indexable framing);
    // the shard LEADS with a warcinfo record (CC's own shard form),
    // then response records only
    for (p <- written) {
      val bytes = java.nio.file.Files.readAllBytes(
        new java.io.File(new java.net.URI(
          if (p.startsWith("file:")) p else "file://" + p)).toPath)
      val spans = CcIndex.memberSpans(bytes)
      assert(spans.size >= 2) // warcinfo + at least one response
      val inf = new java.util.zip.Inflater(true)
      try for (((o, l), i) <- spans.zipWithIndex) {
        val r = CcIndex.memberRecord(bytes, o.toInt, l.toInt, inf).get
        if (i == 0) {
          assert(r.warcType == "warcinfo")
          assert(r.headers.contains("warc-filename"))
        } else {
          assert(r.warcType == "response")
          assert(r.headers.contains("warc-payload-digest"))
          assert(r.headers.contains("warc-record-id"))
        }
      } finally inf.end()
    }
    // round trip through the DSv2 source
    val back = spark.read.format("warc").load(written: _*)
      .select("page_url", "html").as[(String, String)]
      .collect().sorted
    val orig = pages.as[(String, String)].collect().sorted
    assert(back.sameElements(orig))
  }

  test("written bytes are deterministic (retry republish idempotence)") {
    import spark.implicits._
    val pages = Seq(("https://d.test/p", "<html>x</html>"))
      .toDF("page_url", "html")
    val d1 = tmpDir("warc-det1")
    val d2 = tmpDir("warc-det2")
    WarcSink.writePages(pages.coalesce(1), d1.getAbsolutePath).collect()
    WarcSink.writePages(pages.coalesce(1), d2.getAbsolutePath).collect()
    val b1 = java.nio.file.Files.readAllBytes(
      new java.io.File(d1, "pages-00000.warc.gz").toPath)
    val b2 = java.nio.file.Files.readAllBytes(
      new java.io.File(d2, "pages-00000.warc.gz").toPath)
    assert(java.util.Arrays.equals(b1, b2),
      "two writes of the same rows must publish identical bytes — " +
        "retry idempotence and golden checks both rest on this")
  }

  test("a shard write that throws fails the job and leaves no temp file") {
    import spark.implicits._
    val dir = tmpDir("warc-throw")
    val rows = spark.sparkContext.parallelize(1 to 5, 1).toDS()
    val e = intercept[org.apache.spark.SparkException] {
      WarcSink.writeShards(rows, dir.getAbsolutePath, "boom",
          "2024-01-01T00:00:00Z") { i =>
        if (i == 3) throw new IllegalStateException("third row")
        WarcSink.warcRecord("resource", Nil, "text/plain",
          s"row $i".getBytes("UTF-8"))
      }.collect()
    }
    assert(e.getMessage.contains("third row"), e.getMessage)
    // neither the attempt's temp (nor its checksum) nor a shard remains
    assert(dir.list().isEmpty, dir.list().mkString(", "))
  }

  test("writeRecords: binary bodies round-trip byte-for-byte with " +
      "their own status and content type") {
    import spark.implicits._
    // exotic shapes on purpose: gzip-magic-leading bytes (must not be
    // mistaken for framing), NULs, empty body, a 404, a parametered
    // content type (parameters strip on re-index)
    val bodies = Seq(
      ("https://m.test/a.bin", 200, "image/png",
        Array[Byte](0x1f, 0x8b.toByte, 0, 1, 2, 3, 0, 0x7f)),
      ("https://m.test/b.bin", 404, "application/pdf",
        "%PDF-1.4 not really".getBytes("UTF-8")),
      ("https://m.test/c.bin", 200, "application/octet-stream; x=y",
        Array.emptyByteArray),
      ("https://m.test/d.bin", 503, "",
        Array.tabulate(4096)(i => (i * 31).toByte)))
    val df = bodies.toDF("page_url", "fetch_status", "content_type",
      "body")
    val dir = tmpDir("warc-raw-sink")
    val written = WarcSink.writeRecords(df.coalesce(1),
      dir.getAbsolutePath).collect().map(_.getAs[String]("path")).toSeq
    // re-index from the records' OWN envelopes: status survives, the
    // content type survives with parameters stripped
    val idx = CcIndex.buildIndexFromRecords(spark, written)
    val byUrl = idx.collect().map(r => r.getAs[String]("url") ->
      (r.getAs[Int]("fetch_status"),
        r.getAs[String]("content_mime_type"))).toMap
    assert(byUrl("https://m.test/a.bin") == ((200, "image/png")))
    assert(byUrl("https://m.test/b.bin") == ((404, "application/pdf")))
    assert(byUrl("https://m.test/c.bin") ==
      ((200, "application/octet-stream")))
    assert(byUrl("https://m.test/d.bin") ==
      ((503, "application/octet-stream"))) // empty type defaults
    // ranged fetch returns the EXACT bytes (digest-verified en route)
    val back = CcIndex.fetchRecords(idx)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("body"))
      .toMap
    for ((url, _, _, body) <- bodies)
      assert(java.util.Arrays.equals(back(url), body),
        s"body mismatch for $url")
    // determinism: a second write publishes identical shard bytes
    val dir2 = tmpDir("warc-raw-sink2")
    val w2 = WarcSink.writeRecords(df.coalesce(1), dir2.getAbsolutePath)
      .collect().map(_.getAs[String]("path")).toSeq
    def fileBytes(p: String) = java.nio.file.Files.readAllBytes(
      new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else "file://" + p)).toPath)
    assert(java.util.Arrays.equals(
      fileBytes(written.head), fileBytes(w2.head)))
  }

  test("WetSink: conversion shards round-trip through the WET source") {
    import spark.implicits._
    val texts = Seq(
      ("https://w.test/1", "plain ascii text"),
      ("https://w.test/2", "accented: déjà vu — em dash"),
      ("https://w.test/3", ""), // empty text survives as an empty record
      ("https://w.test/4", "line one\nline two\n"))
      .toDF("page_url", "wet_text")
    val dir = tmpDir("wet-sink")
    val written = WetSink.writeTexts(texts.coalesce(1),
      dir.getAbsolutePath).collect()
    assert(written.map(_.getAs[Long]("records")).sum == 4L)
    val paths = written.map(_.getAs[String]("path")).toSeq
    assert(paths.forall(_.endsWith(".warc.wet.gz")))
    // member framing: warcinfo lead, then conversion records with a
    // block digest over the raw text bytes
    for (p <- paths) {
      val bytes = java.nio.file.Files.readAllBytes(
        new java.io.File(new java.net.URI(
          if (p.startsWith("file:")) p else "file://" + p)).toPath)
      val spans = CcIndex.memberSpans(bytes)
      assert(spans.size == 5) // warcinfo + 4 conversions
      val inf = new java.util.zip.Inflater(true)
      try for (((o, l), i) <- spans.zipWithIndex) {
        val r = CcIndex.memberRecord(bytes, o.toInt, l.toInt, inf).get
        if (i == 0) assert(r.warcType == "warcinfo")
        else {
          assert(r.warcType == "conversion")
          assert(r.headers("warc-block-digest") ==
            "sha1:" + CcIndex.sha1Base32(r.payload))
        }
      } finally inf.end()
    }
    // lossless round trip through the engine's own WET source
    val back = WetText.docs(spark, paths)
      .select("page_url", "wet_text").as[(String, String)]
      .collect().sorted
    assert(back.sameElements(
      texts.as[(String, String)].collect().sorted))
    // deterministic bytes
    val dir2 = tmpDir("wet-sink2")
    val p2 = WetSink.writeTexts(texts.coalesce(1), dir2.getAbsolutePath)
      .collect().map(_.getAs[String]("path")).toSeq
    def fb(p: String) = java.nio.file.Files.readAllBytes(
      new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else "file://" + p)).toPath)
    assert(java.util.Arrays.equals(fb(paths.head), fb(p2.head)))
  }

  test("WatSink: written sidecars extract identically to the raw HTML") {
    import spark.implicits._
    // hostile link text on purpose: quotes, backslashes, a newline in
    // the anchor — the envelope JSON must escape them so from_json
    // reads back the exact strings
    val html =
      """<html><head><base href="https://b.test/dir/"></head><body>
        |<img src="img/cat.jpg" alt="a &quot;cat&quot; \ here">
        |<a href="song.mp3">line
        |one</a>
        |<img src="https://cdn.test/dog.png">
        |</body></html>""".stripMargin
    val pages = Seq(("src-0.warc.gz", "https://w.test/p1", html))
      .toDF("cc_filename", "page_url", "html")
    val dir = tmpDir("wat-sink")
    val written = WatSink.writePages(pages.coalesce(1),
      dir.getAbsolutePath).collect().map(_.getAs[String]("path")).toSeq
    assert(written.forall(_.endsWith(".warc.wat.gz")))
    // the reference-shaped extraction over the WRITTEN sidecar equals
    // the HTML scanner's own view of the page
    val fromWat = WatExtract.fromPaths(spark, written, "image")
      .collect().map(r => (r.uid, r.url, r.alt, r.page_url)).sorted
    assert(fromWat.length == 1) // "image" = alt-bearing IMG links only
    assert(fromWat.head._2 == "https://b.test/dir/img/cat.jpg")
    assert(fromWat.head._3 == "a \"cat\" \\ here") // unescaped intact
    assert(fromWat.head._4 == "https://w.test/p1")
    // cc_filename surfaces the SOURCE archive (Container.Filename)
    val ccNames = WatExtract.fromPaths(spark, written, "image_only")
      .collect().map(_.cc_filename).distinct
    assert(ccNames.toSeq == Seq("src-0.warc.gz"))
    // audio doc type sees the anchor text via its alt (scanHtml
    // collapses the newline to one space, as the WAT pipeline's own
    // anchor text does)
    val audio = WatExtract.fromPaths(spark, written, "audio")
      .collect()
    assert(audio.length == 1 && audio.head.alt == "line one")
    // determinism
    val dir2 = tmpDir("wat-sink2")
    val w2 = WatSink.writePages(pages.coalesce(1), dir2.getAbsolutePath)
      .collect().map(_.getAs[String]("path")).toSeq
    def fb(p: String) = java.nio.file.Files.readAllBytes(
      new java.io.File(new java.net.URI(
        if (p.startsWith("file:")) p else "file://" + p)).toPath)
    assert(java.util.Arrays.equals(fb(written.head), fb(w2.head)))
  }

  test("the engine's own output is indexable and ranged-fetchable") {
    import spark.implicits._
    // full circle: sink output → buildIndex → digest-verified ranged
    // fetch returns exactly the written pages
    val pages = (0 until 40).map(i =>
      (s"https://c.test/doc$i.html", s"<html><body>page $i</body></html>"))
      .toDF("page_url", "html")
    val dir = tmpDir("warc-circle")
    val written = WarcSink.writePages(pages.repartition(3),
      dir.getAbsolutePath).collect().map(_.getAs[String]("path")).toSeq
    val idx = CcIndex.buildIndex(spark, written,
      mimeOf = _ => "text/html", statusOf = _ => 200)
    assert(idx.count() == 40L)
    // content_digest comes from the record's payload — fetch verifies
    val fetched = CcIndex.fetchHtmlPages(idx)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val orig = pages.as[(String, String)].collect().sorted
    assert(fetched.sameElements(orig))
  }
}
