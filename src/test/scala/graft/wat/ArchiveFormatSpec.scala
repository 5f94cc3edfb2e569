package graft.wat

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pins the bytes every archive writer produces for fixed inputs: per
  * written file, its gzip member count and the md5 of its decompressed
  * bytes. The members are framed here, with a bare `Inflater`, not by
  * the engine's own reader; and the pin is over decompressed bytes, so
  * it holds whatever the JDK's zlib emits. `cluster.idx` is plain text
  * whose offsets and lengths are compressed sizes: its keys, shards and
  * sequence numbers are pinned, and each (offset, length) must be a
  * member this framing finds in its shard.
  */
class ArchiveFormatSpec extends AnyFunSuite with SparkTestBase {

  /** (members, md5 of the concatenated decompressed members, member
    * spans) of a file written as gzip members with a bare 10-byte
    * header (FLG 0: what `GZIPOutputStream` writes).
    */
  private def members(b: Array[Byte]): (Int, String, Seq[(Long, Long)]) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = new Array[Byte](1 << 16)
    val spans = Seq.newBuilder[(Long, Long)]
    var off = 0
    while (off < b.length) {
      assert(b(off) == 0x1f.toByte && b(off + 1) == 0x8b.toByte &&
        b(off + 2) == 8 && b(off + 3) == 0, s"gzip header at $off")
      val inf = new java.util.zip.Inflater(true)
      try {
        inf.setInput(b, off + 10, b.length - off - 10)
        while (!inf.finished()) {
          val k = inf.inflate(buf)
          assert(k > 0 || !inf.needsInput(), s"member at $off is cut")
          md.update(buf, 0, k)
        }
        val end = b.length - inf.getRemaining + 8
        spans += ((off.toLong, (end - off).toLong))
        off = end
      } finally inf.end()
    }
    val s = spans.result()
    (s.size, md.digest().map("%02x".format(_)).mkString, s)
  }

  private def tmpDir(tag: String): File = {
    val d = Files.createTempDirectory(tag).toFile
    d.deleteOnExit()
    d
  }

  /** name → (members, md5) for every gzip file under `dir`. */
  private def pinsOf(dir: File): Map[String, (Int, String)] =
    dir.listFiles().filter(_.getName.endsWith(".gz")).map { f =>
      val (n, md5, _) = members(Files.readAllBytes(f.toPath))
      f.getName -> ((n, md5))
    }.toMap

  private def check(got: Map[String, (Int, String)],
      want: Map[String, (Int, String)]): Unit =
    assert(got == want, s"\n got: $got\nwant: $want")

  test("the WARC sink's page and record shards keep their bytes") {
    import spark.implicits._
    val pages = spark.sparkContext.parallelize(Seq(
      ("https://a.test/1", "<html><head><base href=\"/b/\"></head>" +
        "<body><img src=\"x.png\" alt=\"an x\"></body></html>"),
      ("https://a.test/2", "<html><body>café — two</body></html>"),
      ("https://b.test/3", ""),
      (null, "<p>no url</p>"),
      ("https://b.test/5", null)), 2).toDF("page_url", "html")
    val pageDir = tmpDir("fmt-warc-pages")
    WarcSink.writePages(pages, pageDir.getAbsolutePath).collect()
    check(pinsOf(pageDir), Map(
      "pages-00000.warc.gz" ->
        ((3, "77c13676826cd2fbba27e9808e81edc2")),
      "pages-00001.warc.gz" ->
        ((4, "319bc5f792ab05f3f17c02337886d642"))))

    val records = spark.sparkContext.parallelize(Seq(
      ("https://a.test/img", 200, "image/png",
        Array[Byte](0x89.toByte, 'P', 'N', 'G', 0, 1, 2)),
      ("https://a.test/gone", 404, "text/html",
        "<h1>gone</h1>".getBytes(UTF_8)),
      ("https://a.test/odd", 299, null, Array.emptyByteArray),
      ("https://a.test/moved", 301, "", "x".getBytes(UTF_8)),
      ("https://a.test/img", 200, "image/png", Array[Byte](9, 9))), 2)
      .toDF("page_url", "fetch_status", "content_type", "body")
    val recDir = tmpDir("fmt-warc-records")
    WarcSink.writeRecords(records, recDir.getAbsolutePath,
      warcDate = "2024-02-03T04:05:06Z").collect()
    check(pinsOf(recDir), Map(
      "records-00000.warc.gz" ->
        ((3, "a926e230b304d77e8f0230fe49ef393d")),
      "records-00001.warc.gz" ->
        ((4, "153764d5b9019dd6157e736b7f98e11b"))))
  }

  test("the WAT and WET sinks keep their bytes") {
    import spark.implicits._
    val pages = spark.sparkContext.parallelize(Seq(
      ("src-0.warc.gz", "https://a.test/1",
        "<html><head><base href=\"https://cdn.test/\"></head><body>" +
          "<img src=\"a.jpg\" alt=\"say \\\"hi\\\"\nthere\">" +
          "<a href=\"doc.pdf\">a doc</a></body></html>"),
      ("src-0.warc.gz", "https://a.test/2", "<p>no links</p>"),
      ("src-1.warc.gz", "https://b.test/3",
        "<a href=\"/song.mp3\">café</a>")), 2)
      .toDF("cc_filename", "page_url", "html")
    val watDir = tmpDir("fmt-wat")
    WatSink.writePages(pages, watDir.getAbsolutePath).collect()
    check(pinsOf(watDir), Map(
      "wat-00000.warc.wat.gz" ->
        ((2, "ef13b3ef2bec924e7bb564bc83d9e7fd")),
      "wat-00001.warc.wat.gz" ->
        ((3, "e0f5d847eed084d7bf07bf52214c0018"))))

    val texts = spark.sparkContext.parallelize(Seq(
      ("https://a.test/1", "plain text one"),
      ("https://a.test/2", "café — two\nlines"),
      ("https://a.test/3", ""),
      (null, "orphan")), 2).toDF("page_url", "wet_text")
    val wetDir = tmpDir("fmt-wet")
    WetSink.writeTexts(texts, wetDir.getAbsolutePath).collect()
    check(pinsOf(wetDir), Map(
      "wet-00000.warc.wet.gz" ->
        ((3, "c50b7bd889fc184f03fdb9d6f87b54a0")),
      "wet-00001.warc.wet.gz" ->
        ((3, "1b497c1b25ec00a1ed7cc9f35290279c"))))
  }

  test("the clustered CDXJ sink keeps its bytes and its block index") {
    import spark.implicits._
    val idx = (0 until 30).map { i =>
      (s"https://site${i % 7}.test/p$i", f"20240101${i % 24}%02d0000",
        if (i % 5 == 0) "application/pdf" else "text/html",
        if (i % 11 == 3) 404 else 200, s"DIGEST$i",
        s"crawl/seg/warc-${i % 3}.warc.gz", i * 1000L, 500L + i,
        if (i % 2 == 0) "eng" else "deu")
    }.toDF("url", "fetch_time", "content_mime_type", "fetch_status",
      "content_digest", "warc_filename", "warc_record_offset",
      "warc_record_length", "content_languages")
    val dir = tmpDir("fmt-cdxj")
    val clusterIdx = CdxjSink.writeClustered(idx, dir.getAbsolutePath,
      shards = 2, blockLines = 4)
    check(pinsOf(dir), Map(
      "cdx-00000.gz" ->
        ((4, "9a838b249c69359f55e128160c00793d")),
      "cdx-00001.gz" ->
        ((4, "aaac8a08d34e3582d2b7e72cff19cbc4"))))
    val lines = new String(Files.readAllBytes(
      new File(new java.net.URI(clusterIdx).getPath).toPath), UTF_8)
      .split('\n').toSeq
    val spans = dir.listFiles().filter(_.getName.endsWith(".gz"))
      .map(f => f.getName ->
        members(Files.readAllBytes(f.toPath))._3.toSet).toMap
    for (l <- lines) {
      val Array(_, shard, off, len, _) = l.split('\t')
      assert(spans(shard).contains((off.toLong, len.toLong)), l)
    }
    val keys = lines.map { l =>
      val p = l.split('\t'); s"${p(0)}\t${p(1)}\t${p(4)}"
    }.mkString("\n")
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(keys.getBytes(UTF_8)).map("%02x".format(_)).mkString
    assert((lines.size, md5) ==
      ((8, "17529955777651d54d2e91cf4c1709d1")), s"cluster.idx: ${(lines.size, md5)}")
  }

  test("the fixture writers keep their bytes") {
    val dir = tmpDir("fmt-fixture")
    WatFixture.write(new File(dir, "fixture.warc.wat.gz").getAbsolutePath)
    WatFixture.syntheticWat(new File(dir, "syn.warc.wat.gz").getAbsolutePath,
      nRecords = 12, linksPerRecord = 4, seed = 7L)
    WatFixture.syntheticWat(
      new File(dir, "syn-b2.warc.wat.gz").getAbsolutePath,
      nRecords = 6, linksPerRecord = 3, seed = 7L, bloatUnits = 2)
    WatFixture.syntheticWarc(new File(dir, "syn.warc.gz").getAbsolutePath,
      nRecords = 12, linksPerRecord = 4, seed = 7L)
    check(pinsOf(dir), Map(
      "fixture.warc.wat.gz" ->
        ((9, "d6d24fe2b1b82303d34174766a293ada")),
      "syn.warc.wat.gz" ->
        ((12, "4d8601001e79cb18692199f0e7e47ed0")),
      "syn-b2.warc.wat.gz" ->
        ((6, "c7b70239f3590c206343d771686e090d")),
      "syn.warc.gz" ->
        ((13, "6f46bf4cdf343e32608dd77c94ebf70d"))))
  }
}
