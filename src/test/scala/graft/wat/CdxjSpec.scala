package graft.wat

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ext.Surt

/** CDXJ line grammar + SURT canonicalization + the text-index →
  * ranged-fetch equivalence with the parquet index.
  */
class CdxjSpec extends AnyFunSuite with SparkTestBase {

  test("SURT: every rule, one vector each") {
    assert(Surt.surtKey("https://www.Example.COM/Path?b=2&a=1") ==
      "com,example)/path?a=1&b=2")
    assert(Surt.surtKey("http://sub.site.org/") == "org,site,sub)/")
    assert(Surt.surtKey("https://example.com") == "com,example)/")
    assert(Surt.surtKey("http://example.com:8080/x") ==
      "com,example:8080)/x")
    assert(Surt.surtKey("https://example.com:443/x") == "com,example)/x")
    assert(Surt.surtKey("http://example.com:80/x") == "com,example)/x")
    // only the scheme's OWN default drops: http:443 / https:80 are
    // non-default and must key distinctly (real url_surtkey values do)
    assert(Surt.surtKey("http://example.com:443/x") ==
      "com,example:443)/x")
    assert(Surt.surtKey("https://example.com:80/x") ==
      "com,example:80)/x")
    // schemeless assumes http: :80 drops, :443 keeps
    assert(Surt.surtKey("example.com:80/x") == "com,example)/x")
    assert(Surt.surtKey("example.com:443/x") == "com,example:443)/x")
    assert(Surt.surtKey("http://user:pw@example.com/x") ==
      "com,example)/x")
    assert(Surt.surtKey("https://example.com/x#frag") == "com,example)/x")
    // www strip needs >2 labels (www.example.com -> example; but a
    // bare www.com must keep its host)
    assert(Surt.surtKey("http://www2.example.com/") == "com,example)/")
    assert(Surt.surtKey("http://www.com/") == "com,www)/")
    // an @ in the QUERY is not userinfo
    assert(Surt.surtKey("http://example.com/x?user=a@b") ==
      "com,example)/x?user=a@b")
    // schemeless input still keys
    assert(Surt.surtKey("example.com/x") == "com,example)/x")
    // bracketed IPv6 authorities: the host is everything through `]`
    // (lastIndexOf(':') would land mid-address on the portless form);
    // IP literals keep their written shape — no label reversal
    assert(Surt.surtKey("http://[2001:DB8::1]/x") == "[2001:db8::1])/x")
    assert(Surt.surtKey("http://[::1]:8080/x") == "[::1]:8080)/x")
    assert(Surt.surtKey("https://[::1]:443/x") == "[::1])/x")
    assert(Surt.surtKey("http://[2001:db8::2]:80/x?b=1&a=2") ==
      "[2001:db8::2])/x?a=2&b=1")
    // malformed bracket (no close): fail closed, keep the authority
    assert(Surt.surtKey("http://[2001:db8/x") == "[2001:db8)/x")
    // dotted-quad IPv4 stays unreversed; ports still canonicalize
    assert(Surt.surtKey("http://192.168.0.1/x") == "192.168.0.1)/x")
    assert(Surt.surtKey("https://10.0.0.2:8443/p") == "10.0.0.2:8443)/p")
    assert(Surt.surtKey("http://10.0.0.2:80/p") == "10.0.0.2)/p")
    // a 4-label NAME is not an IPv4 and still reverses
    assert(Surt.surtKey("http://a.b.c.d/") == "d,c,b,a)/")
    assert(Surt.surtKey("http://1234.168.0.1/") == "1,0,168,1234)/")
  }

  test("parseLine: round-trip, field tolerance, malformed lines drop") {
    val line = Cdxj.formatLine("https://www.example.com/a?x=1",
      "20240101120000", "text/html", 200, "QQ44", "seg/x.warc.gz",
      12345L, 678L)
    assert(line.startsWith("com,example)/a?x=1 20240101120000 {"))
    val r = Cdxj.parseLine(line).get
    assert(r.surtKey == "com,example)/a?x=1" &&
      r.timestamp == "20240101120000" &&
      r.url == "https://www.example.com/a?x=1" &&
      r.mime == "text/html" && r.status == 200 && r.digest == "QQ44" &&
      r.filename == "seg/x.warc.gz" && r.offset == 12345L &&
      r.length == 678L)
    // absent languages/encoding parse as "" (the old line shape)
    assert(r.languages == "" && r.encoding == "")
    // the real-CC JSON fields round-trip when present
    val withLang = Cdxj.formatLine("https://www.example.com/a",
      "20240101120000", "text/html", 200, "QQ44", "seg/x.warc.gz",
      12345L, 678L, languages = "eng,fra", encoding = "UTF-8")
    val rl = Cdxj.parseLine(withLang).get
    assert(rl.languages == "eng,fra" && rl.encoding == "UTF-8")
    // quotes in the url escape and round-trip
    val esc = Cdxj.formatLine("https://e.test/\"q\"", "20240101000000",
      "", 0, "", "f", 0L, 1L)
    assert(Cdxj.parseLine(esc).exists(_.url == "https://e.test/\"q\""))
    // malformed lines: wrong timestamp width, broken json, missing
    // url, non-numeric offset — all None, never a throw
    assert(Cdxj.parseLine("").isEmpty)
    assert(Cdxj.parseLine("key only").isEmpty)
    assert(Cdxj.parseLine("k 2024 {\"url\": \"x\"}").isEmpty)
    assert(Cdxj.parseLine("k 20240101000000 {broken").isEmpty)
    assert(Cdxj.parseLine("k 20240101000000 {\"mime\": \"x\"}").isEmpty)
    assert(Cdxj.parseLine(
      "k 20240101000000 {\"url\": \"u\", \"offset\": \"x\", \"length\": \"1\"}")
      .isEmpty)
    // all-ASCII-digit but Long-overflowing offset (20+ digits): must
    // DROP, not throw NumberFormatException and kill the shard task
    assert(Cdxj.parseLine(
      "k 20240101000000 {\"url\": \"u\", " +
        "\"offset\": \"99999999999999999999\", \"length\": \"1\"}")
      .isEmpty)
    // Int-overflowing status: same fail-soft contract
    assert(Cdxj.parseLine(
      "k 20240101000000 {\"url\": \"u\", \"offset\": \"1\", " +
        "\"length\": \"1\", \"status\": \"99999999999\"}")
      .isEmpty)
    // non-ASCII Unicode digits (Arabic-Indic ٣): Char.isDigit admits
    // them but toLong throws — validation is ASCII-only now
    assert(Cdxj.parseLine(
      "k 20240101000000 {\"url\": \"u\", \"offset\": \"٣\", " +
        "\"length\": \"1\"}").isEmpty)
    assert(Cdxj.parseLine(
      "k 2024010100000٣ {\"url\": \"u\", \"offset\": \"1\", " +
        "\"length\": \"1\"}").isEmpty)
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 100)
      Cdxj.parseLine(new String(
        Array.fill(rnd.nextInt(80))((32 + rnd.nextInt(90)).toChar)))
  }

  test("legacy CDX: header-driven parse, '-' nulls, malformed drops") {
    // header magic
    assert(Cdxj.parseCdxHeader(" CDX N b a m s k r M S V g") ==
      Some(Cdxj.DefaultCdxFields))
    assert(Cdxj.parseCdxHeader(" CDX N b a m s k r V g") ==
      Some("N b a m s k r V g".split(' ').toIndexedSeq))
    assert(Cdxj.parseCdxHeader("com,example)/ 20240101").isEmpty)
    assert(Cdxj.parseCdxHeader(null).isEmpty)
    // CDX-11 round trip through the writer twin
    val line = Cdxj.formatCdxLine("https://www.example.com/a?x=1",
      "20240101120000", "text/html", 200, "QQ44", "seg/x.warc.gz",
      12345L, 678L)
    assert(line ==
      "com,example)/a?x=1 20240101120000 https://www.example.com/a?x=1 " +
        "text/html 200 QQ44 - - 678 12345 seg/x.warc.gz")
    val r = Cdxj.parseCdxLine(line, Cdxj.DefaultCdxFields).get
    assert(r.surtKey == "com,example)/a?x=1" &&
      r.url == "https://www.example.com/a?x=1" &&
      r.mime == "text/html" && r.status == 200 && r.digest == "QQ44" &&
      r.filename == "seg/x.warc.gz" && r.offset == 12345L &&
      r.length == 678L && r.languages == "")
    // '-' is the format's null; sha1: digest prefixes strip
    val dashed = Cdxj.parseCdxLine(
      "k 20240101000000 http://e.test/x - - sha1:AB - - 9 0 f.warc.gz",
      Cdxj.DefaultCdxFields).get
    assert(dashed.mime == "" && dashed.status == 0 &&
      dashed.digest == "AB")
    // malformed: wrong token count, bad timestamp, missing url or
    // filename, non-numeric offset — all drop, never a throw
    assert(Cdxj.parseCdxLine("too few", Cdxj.DefaultCdxFields).isEmpty)
    assert(Cdxj.parseCdxLine(
      "k 2024 http://e.test/x - - - - - 9 0 f.warc.gz",
      Cdxj.DefaultCdxFields).isEmpty)
    assert(Cdxj.parseCdxLine(
      "k 20240101000000 - - - - - - 9 0 f.warc.gz",
      Cdxj.DefaultCdxFields).isEmpty)
    assert(Cdxj.parseCdxLine(
      "k 20240101000000 http://e.test/x - - - - - 9 0 -",
      Cdxj.DefaultCdxFields).isEmpty)
    assert(Cdxj.parseCdxLine(
      "k 20240101000000 http://e.test/x - - - - - 9 x f.warc.gz",
      Cdxj.DefaultCdxFields).isEmpty)
    // Long-overflow offset drops (same contract as CDXJ)
    assert(Cdxj.parseCdxLine(
      "k 20240101000000 http://e.test/x - - - - - 9 " +
        "99999999999999999999 f.warc.gz", Cdxj.DefaultCdxFields).isEmpty)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 100)
      Cdxj.parseCdxLine(new String(
        Array.fill(rnd.nextInt(80))((32 + rnd.nextInt(90)).toChar)),
        Cdxj.DefaultCdxFields)
  }

  test("legacy CDX-9 lengths fill from the next offset per archive") {
    import java.nio.charset.StandardCharsets.UTF_8
    val cdx9 = Seq(
      " CDX N b a m s k r V g",
      // two archives interleaved in key order — the fill must group
      // by archive before subtracting
      "com,a)/1 20240101000000 http://a.test/1 text/html 200 D1 - 0 x.warc.gz",
      "com,a)/2 20240101000000 http://a.test/2 text/html 200 D2 - 700 y.warc.gz",
      "com,a)/3 20240101000000 http://a.test/3 text/html 200 D3 - 450 x.warc.gz",
      "com,a)/4 20240101000000 http://a.test/4 text/html 200 D4 - 100 y.warc.gz"
    ).mkString("\n")
    val dir = java.nio.file.Files.createTempDirectory("cdx9").toFile
    dir.deleteOnExit()
    val f = new java.io.File(dir, "legacy.cdx")
    java.nio.file.Files.write(f.toPath, cdx9.getBytes(UTF_8))
    val rows = Cdxj.legacyIndexFrame(spark, Seq(f.getAbsolutePath))
      .select("url", "warc_filename", "warc_record_offset",
        "warc_record_length")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rows.toSeq == Seq(
      ("http://a.test/1", "x.warc.gz", 0L, 450L),
      ("http://a.test/2", "y.warc.gz", 700L, -1L), // last in y: unknown
      ("http://a.test/3", "x.warc.gz", 450L, -1L), // last in x: unknown
      ("http://a.test/4", "y.warc.gz", 100L, 600L)))
    // the opt-in tail patch: file size - offset for the -1 rows, one
    // stat per distinct archive; missing archives keep their -1
    java.nio.file.Files.write(new java.io.File(dir, "x.warc.gz").toPath,
      new Array[Byte](500)) // x: 500 bytes -> tail = 500 - 450 = 50
    val patched = Cdxj.fillTailLengths(
        Cdxj.legacyIndexFrame(spark, Seq(f.getAbsolutePath)),
        dir.getAbsolutePath)
      .select("url", "warc_record_length")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    assert(patched.toSeq == Seq(
      ("http://a.test/1", 450L),
      ("http://a.test/2", -1L), // y.warc.gz absent: stays unknown
      ("http://a.test/3", 50L), // patched from x's real size
      ("http://a.test/4", 600L)))
  }

  test("legacy CDX shards parse to the same index as the parquet form") {
    val (cdxs, _) =
      WatFixture.ensureDocCdxLegacy(spark, "/root/testdata/sf0.001")
    val (idxPath, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val cols = Seq("url", "content_mime_type", "fetch_status",
      "content_digest", "warc_filename", "warc_record_offset",
      "warc_record_length")
    val fromText = Cdxj.legacyIndexFrame(spark, cdxs)
      .select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    val fromParquet = spark.read.parquet(idxPath)
      .select(cols.head, cols.tail: _*)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(fromText.length == fromParquet.length &&
      fromText.sameElements(fromParquet))
  }

  test("selectBlocks: binary-search boundaries, empty and miss cases") {
    def b(k: String, i: Int) = Cdxj.IdxBlock(k, s"s$i", i * 100L, 100L)
    val blocks = IndexedSeq(b("com,a)/p", 0), b("com,m)/p", 1),
      b("org,a)/p", 2), b("org,z)/p", 3))
    // a prefix starting mid-block selects the boundary block too
    assert(Cdxj.selectBlocks(blocks, "com,m)").map(_.shard) ==
      Seq("s0", "s1")) // range could begin inside s0 (keys < com,m)/p)
    // a prefix inside one block's range selects just that block
    assert(Cdxj.selectBlocks(blocks, "com,x").map(_.shard) == Seq("s1"))
    // a prefix spanning blocks selects the span
    assert(Cdxj.selectBlocks(blocks, "org,").map(_.shard) ==
      Seq("s1", "s2", "s3"))
    // entirely before the first key (no key can match) → nothing;
    // after the last first-key → the last block only
    assert(Cdxj.selectBlocks(blocks, "aaa").isEmpty)
    assert(Cdxj.selectBlocks(blocks, "zzz").map(_.shard) == Seq("s3"))
    assert(Cdxj.selectBlocks(IndexedSeq.empty, "x").isEmpty)
    // exact first-key hit: the PRECEDING block holds only keys
    // strictly below it, so just the hit block is selected
    assert(Cdxj.selectBlocks(blocks, "org,a)/p").map(_.shard) ==
      Seq("s2"))
  }

  test("cluster.idx lookup reads only matching blocks; untouched shards never open") {
    val (clusterIdx, shardDir, shardPaths) =
      WatFixture.ensureDocCdxjClustered(spark, "/root/testdata/sf0.001")
    val prefix = "test,docs)/doc1"
    // ground truth: the full-scan filter over all shards
    val full = Cdxj.indexFrame(spark, shardPaths)
      .where(col("url_surtkey").startsWith(prefix))
      .select("url").collect().map(_.getString(0)).sorted
    assert(full.nonEmpty)
    val got = Cdxj.lookupPrefix(spark, clusterIdx, shardDir, prefix)
      .select("url").collect().map(_.getString(0)).sorted
    assert(got.sameElements(full))
    // the selected blocks are a strict subset of the index
    val blocks = Cdxj.readClusterIdx(clusterIdx)
    val selected = Cdxj.selectBlocks(blocks, prefix)
    assert(selected.nonEmpty && selected.size < blocks.size,
      s"lookup must not read the whole index " +
        s"(${selected.size}/${blocks.size} blocks)")
    // hard proof shards outside the selection are NEVER OPENED: copy
    // the layout, replace every unselected shard with garbage — the
    // lookup must still return the identical rows
    val tmp = java.nio.file.Files
      .createTempDirectory("cdxj-cluster-tamper").toFile
    tmp.deleteOnExit()
    java.nio.file.Files.copy(
      new java.io.File(clusterIdx).toPath,
      new java.io.File(tmp, "cluster.idx").toPath)
    val touched = selected.map(_.shard).toSet
    for (p <- shardPaths) {
      val name = new java.io.File(p).getName
      val dst = new java.io.File(tmp, name)
      if (touched.contains(name))
        java.nio.file.Files.copy(new java.io.File(p).toPath, dst.toPath)
      else // a read of this shard would now throw / parse to nothing
        java.nio.file.Files.write(dst.toPath,
          "GARBAGE-NOT-GZIP".getBytes("UTF-8"))
    }
    assert(touched.size < shardPaths.size) // the tamper is non-vacuous
    val tampered = Cdxj.lookupPrefix(spark,
        new java.io.File(tmp, "cluster.idx").getAbsolutePath,
        tmp.getAbsolutePath, prefix)
      .select("url").collect().map(_.getString(0)).sorted
    assert(tampered.sameElements(full),
      "tampering with unselected shards changed the lookup — it must " +
        "never open them")
  }

  test("CdxjSink.writeClustered: the engine's own text-index output " +
      "is globally sorted, cluster-indexed, and lookup-identical") {
    val (cdxjs, _) = WatFixture.ensureDocCdxj(spark, "/root/testdata/sf0.001")
    val src = Cdxj.indexFrame(spark, cdxjs)
    val dir = java.nio.file.Files.createTempDirectory("cdxj-sink").toFile
    dir.deleteOnExit()
    val clusterIdx = CdxjSink.writeClustered(src, dir.getAbsolutePath,
      shards = 3, blockLines = 8)
    // the sidecar parses and its block keys are sorted (the binary
    // search's precondition)
    val blocks = Cdxj.readClusterIdx(clusterIdx)
    assert(blocks.nonEmpty)
    assert(blocks.map(_.firstKey) == blocks.map(_.firstKey).sorted)
    // shards are globally sorted ACROSS files: every key in shard i
    // precedes every key in shard i+1
    val shardFiles = new java.io.File(dir.getAbsolutePath).listFiles()
      .filter(_.getName.matches("cdx-\\d{5}\\.gz")).sortBy(_.getName)
    assert(shardFiles.length >= 2)
    val perShard = shardFiles.map { f =>
      Cdxj.indexFrame(spark, Seq(f.getAbsolutePath))
        .select("url_surtkey").collect().map(_.getString(0))
    }
    for (keys <- perShard)
      assert(keys.sameElements(keys.sorted))
    for (i <- 0 until perShard.length - 1
         if perShard(i).nonEmpty && perShard(i + 1).nonEmpty)
      assert(perShard(i).last <= perShard(i + 1).head,
        s"shard $i overlaps shard ${i + 1}")
    // nothing lost: the union of shards equals the source frame
    val all = Cdxj.indexFrame(spark,
      shardFiles.map(_.getAbsolutePath).toSeq).count()
    assert(all == src.count())
    // the engine-written layout serves a targeted lookup identically
    // to a full scan
    val prefix = "test,docs)/doc1"
    val full = Cdxj.indexFrame(spark, cdxjs)
      .where(col("url_surtkey").startsWith(prefix))
      .select("url").collect().map(_.getString(0)).sorted
    val got = Cdxj.lookupPrefix(spark, clusterIdx, dir.getAbsolutePath,
        prefix)
      .select("url").collect().map(_.getString(0)).sorted
    assert(full.nonEmpty && got.sameElements(full))
    // and the lookup is TARGETED on it (strict block subset)
    val sel = Cdxj.selectBlocks(blocks, prefix)
    assert(sel.nonEmpty && sel.size < blocks.size)
    // deterministic bytes: a second write publishes identical files
    val dir2 = java.nio.file.Files.createTempDirectory("cdxj-sink2").toFile
    dir2.deleteOnExit()
    CdxjSink.writeClustered(src, dir2.getAbsolutePath,
      shards = 3, blockLines = 8)
    for (f <- shardFiles :+ new java.io.File(dir, "cluster.idx")) {
      val twin = new java.io.File(dir2, f.getName)
      assert(java.util.Arrays.equals(
        java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.file.Files.readAllBytes(twin.toPath)),
        s"${f.getName} bytes differ between two writes")
    }
  }

  test("indexFrame over the cdxj shards equals the parquet index") {
    val (cdxjs, _) = WatFixture.ensureDocCdxj(spark, "/root/testdata/sf0.001")
    val (idxPath, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val fromText = Cdxj.indexFrame(spark, cdxjs)
      .select("url", "content_mime_type", "fetch_status",
        "content_digest", "warc_filename", "warc_record_offset",
        "warc_record_length")
      .collect().map(_.toSeq).sortBy(_.toString)
    val fromParquet = spark.read.parquet(idxPath)
      .select("url", "content_mime_type", "fetch_status",
        "content_digest", "warc_filename", "warc_record_offset",
        "warc_record_length")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(fromText.length == fromParquet.length &&
      fromText.sameElements(fromParquet))
    // shard lines are SURT-sorted (the seekability contract)
    val keys = Cdxj.indexFrame(spark, cdxjs.take(1))
      .select("url_surtkey").collect().map(_.getString(0))
    assert(keys.nonEmpty && keys.sameElements(keys.sorted))
  }

  test("a cut gzip shard ends at the cut: whole shards survive, the " +
      "cut one keeps its prefix and counts once") {
    val dir = java.nio.file.Files.createTempDirectory("cdxj-cut")
    def shard(name: String, seed: Int): java.nio.file.Path = {
      val rnd = new scala.util.Random(seed)
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      for (i <- 0 until 4000)
        gz.write((Cdxj.formatLine(s"https://e$seed.test/p$i", "20240101000000",
          "text/html", 200, rnd.alphanumeric.take(32).mkString,
          s"w$seed.warc.gz", i * 1000L, 900L) + "\n").getBytes("UTF-8"))
      gz.close()
      java.nio.file.Files.write(dir.resolve(name), bos.toByteArray)
    }
    val whole = shard("whole.cdxj.gz", 1)
    val full = shard("full.cdxj.gz", 2)
    val bytes = java.nio.file.Files.readAllBytes(full)
    val cut = java.nio.file.Files.write(dir.resolve("cut.cdxj.gz"),
      bytes.take(bytes.length / 2))
    val frame = Cdxj.indexFrame(spark, Seq(whole.toString, cut.toString))
    val files = frame.collect().map(_.getAs[String]("warc_filename"))
    assert(files.count(_ == "w1.warc.gz") == 4000)
    val kept = files.count(_ == "w2.warc.gz")
    assert(kept > 0 && kept < 4000, s"$kept rows of the cut shard")
    assert(SparkTestBase.corruptArchives(frame) == 1L)
    // the legacy reader shares the shard-line reader: same fault model
    val cdxLines = (0 until 4000).map(i => Cdxj.formatCdxLine(
      s"https://e.test/p$i", "20240101000000", "text/html", 200,
      s"D$i", "w.warc.gz", i * 1000L, 900L))
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(cdxLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    gz.close()
    val cdxCut = java.nio.file.Files.write(dir.resolve("cut.cdx.gz"),
      bos.toByteArray.take(bos.size / 2))
    val legacy = Cdxj.legacyIndexFrame(spark, Seq(cdxCut.toString))
    val n = legacy.collect().length
    assert(n > 0 && n < 4000, s"$n rows of the cut legacy shard")
    assert(SparkTestBase.corruptArchives(legacy) == 1L)
  }
}
