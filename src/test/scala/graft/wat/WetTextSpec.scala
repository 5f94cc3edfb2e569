package graft.wat

import java.io.FileOutputStream

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** WET conversion-record reader: type filtering, URI keying, charset
  * tolerance, corrupt-frame fault model, the Spark stage.
  */
class WetTextSpec extends AnyFunSuite with SparkTestBase {

  private def writeWet(records: Seq[Array[Byte]]): String = {
    val f = java.io.File.createTempFile("graft-wet-spec", ".warc.wet.gz")
    f.deleteOnExit()
    val out = new FileOutputStream(f)
    try records.foreach { r =>
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(r)
      gz.close()
      out.write(bos.toByteArray)
    } finally out.close()
    f.getAbsolutePath
  }

  test("conversion records read; warcinfo and URI-less records skip") {
    val path = writeWet(Seq(
      WarcSink.warcRecord("warcinfo", Nil, "application/warc-fields",
        "software: x\r\n".getBytes("UTF-8")),
      WarcSink.warcRecord("conversion",
        Seq("WARC-Target-URI" -> "https://e.test/1"), "text/plain",
        "extracted text one".getBytes("UTF-8")),
      // a conversion record with NO target URI contributes nothing
      WarcSink.warcRecord("conversion", Nil, "text/plain",
        "orphan".getBytes("UTF-8")),
      // BOM'd UTF-8 payload decodes clean (Charsets.decode)
      WarcSink.warcRecord("conversion",
        Seq("WARC-Target-URI" -> "https://e.test/2"), "text/plain",
        Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++
          "bom café".getBytes("UTF-8"))))
    val it = WetText.docsOf(path, spark.sparkContext.hadoopConfiguration,
      _ => ())
    val docs = try it.toVector finally it.close()
    assert(docs.map(d => (d.page_url, d.wet_text)) == Vector(
      ("https://e.test/1", "extracted text one"),
      ("https://e.test/2", "bom café")))
  }

  test("a select without wet_text skips the body decode, keeps every row") {
    val path = writeWet(Seq(
      WarcSink.warcRecord("conversion",
        Seq("WARC-Target-URI" -> "https://e.test/1"), "text/plain",
        "one".getBytes("UTF-8")),
      WarcSink.warcRecord("conversion", Nil, "text/plain",
        "orphan".getBytes("UTF-8")),
      WarcSink.warcRecord("conversion",
        Seq("WARC-Target-URI" -> "https://e.test/2"), "text/plain",
        "two".getBytes("UTF-8"))))
    val frame = spark.read.format(classOf[WetSource].getName).load(path)
    val urls = frame.select("page_url")
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scanned = urls.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.output.map(_.name)
    }.get
    assert(!scanned.contains("wet_text"), scanned)
    assert(urls.collect().map(_.getString(0)).toSeq ==
      Seq("https://e.test/1", "https://e.test/2"))
    assert(frame.count() == 2)
    // the decoder itself: the pruned column is left null, not decoded
    val conf = spark.sparkContext.hadoopConfiguration
    def rows(required: Set[String]) = {
      val it = WetSource.decode(path, conf, required, _ => ())
      try it.toVector.map(_.toSeq) finally it.close()
    }
    val pruned = rows(Set("wet_path", "page_url"))
    assert(pruned.map(_(2)) == Vector(null, null))
    assert(pruned.map(_.take(2)) ==
      rows(WetSource.schema.fieldNames.toSet).map(_.take(2)))
    assert(rows(Set("wet_text")).map(_(2).toString) == Vector("one", "two"))
  }

  test("a truncated frame ends the file; prior records survive") {
    // the established WAT/WARC fault model: a member CUT mid-stream
    // reports corrupt and ends the file, records before it survive
    val whole = writeWet(Seq(
      WarcSink.warcRecord("conversion",
        Seq("WARC-Target-URI" -> "https://e.test/ok"), "text/plain",
        "ok".getBytes("UTF-8")),
      WarcSink.warcRecord("conversion",
        Seq("WARC-Target-URI" -> "https://e.test/cut"), "text/plain",
        ("pad " * 200).getBytes("UTF-8"))))
    val bytes = java.nio.file.Files.readAllBytes(
      new java.io.File(whole).toPath)
    val f = java.io.File.createTempFile("graft-wet-corrupt", ".warc.wet.gz")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath,
      java.util.Arrays.copyOf(bytes, bytes.length - 30))
    var corrupt = 0
    val it = WetText.docsOf(f.getAbsolutePath,
      spark.sparkContext.hadoopConfiguration, _ => corrupt += 1)
    val docs = try it.toVector finally it.close()
    assert(docs.map(_.page_url) == Vector("https://e.test/ok"))
    assert(corrupt == 1)
    // the Spark stage keeps the same records and counts the cut file
    // once in its scan's corruptArchives metric
    val frame = WetText.docs(spark, Seq(whole, f.getAbsolutePath))
    val urls = frame.collect().map(_.getAs[String]("page_url"))
    assert(urls.sorted.toSeq == Seq("https://e.test/cut",
      "https://e.test/ok", "https://e.test/ok"))
    assert(SparkTestBase.corruptArchives(frame) == 1L)
  }

  test("docs stage: one partition per archive, doc-WET fixture round-trip") {
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val paths = WatFixture.ensureDocWets(spark, sfDir, shards = 3)
    val frame = WetText.docs(spark, paths)
    assert(frame.rdd.getNumPartitions == 3)
    val rows = frame.select("page_url", "wet_text")
      .as[(String, String)].collect()
    val got = rows.toMap
    // toMap would silently collapse a double-emitted page or a doc
    // routed into two shards — pin the raw row count too
    assert(rows.length == got.size)
    val want = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id").isNotNull).select("doc_id", "text")
      .as[(Long, String)].collect()
      .map { case (id, t) => s"https://docs.test/doc$id.html" -> t }.toMap
    assert(got == want)
  }

  test("a cc_filename predicate selects exactly that file's rows") {
    // cc_filename is the basename; the scan's path column is the full
    // path, so the predicate must not be decided against the path
    val paths = WatFixture.ensureDocWets(spark, "/root/testdata/sf0.001",
      shards = 3)
    val name = new java.io.File(paths(1)).getName
    val all = WetText.docs(spark, paths)
    val filtered = all.where(col("cc_filename") === name)
    val got = filtered.collect().map(_.toSeq).sortBy(_.toString)
    val want = all.collect().filter(_.getString(0) == name).map(_.toSeq)
      .sortBy(_.toString)
    assert(got.nonEmpty && got.sameElements(want))
    assert(got.length < all.count())
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
