package graft.wat

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.{Deflater, GZIPOutputStream}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The columnar-index access path: RFC 1952 member-boundary walk,
  * single-record ranged fetch, index build over real shards, the
  * predicate-pushdown contract on the index scan, and parity between
  * the ranged path and the whole-file warc scan.
  */
class CcIndexSpec extends AnyFunSuite with SparkTestBase {

  private def gz(payload: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val g = new GZIPOutputStream(bos)
    g.write(payload); g.close()
    bos.toByteArray
  }

  /** A member with FNAME + FCOMMENT + FEXTRA + FHCRC set — the header
    * optionals memberSpans must skip (GZIPOutputStream never writes
    * them, so build by hand: deflate-raw body + crc trailer).
    */
  private def gzWithOptionals(payload: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    // FLG = FHCRC|FEXTRA|FNAME|FCOMMENT = 2|4|8|16 = 0x1e
    bos.write(Array[Byte](0x1f.toByte, 0x8b.toByte, 8, 0x1e.toByte,
      0, 0, 0, 0, 0, 0))
    bos.write(Array[Byte](3, 0, 'x', 'y', 'z')) // FEXTRA len=3
    bos.write("name.txt".getBytes(UTF_8)); bos.write(0) // FNAME
    bos.write("a comment".getBytes(UTF_8)); bos.write(0) // FCOMMENT
    // FHCRC = low 16 bits of CRC32 over the header so far, LE
    // (GZIPInputStream VERIFIES it on the re-slice decode below)
    val hcrc = new java.util.zip.CRC32()
    hcrc.update(bos.toByteArray)
    val h = hcrc.getValue
    bos.write(Array[Byte](h.toByte, (h >> 8).toByte))
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    d.setInput(payload); d.finish()
    val buf = new Array[Byte](1 << 14)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    val crc = new java.util.zip.CRC32()
    crc.update(payload)
    val v = crc.getValue
    bos.write(Array[Byte](v.toByte, (v >> 8).toByte, (v >> 16).toByte,
      (v >> 24).toByte, payload.length.toByte,
      (payload.length >> 8).toByte, (payload.length >> 16).toByte,
      (payload.length >> 24).toByte))
    bos.toByteArray
  }

  test("memberSpans: plain members, header optionals, tail garbage") {
    val a = gz("alpha".getBytes(UTF_8))
    val b = gzWithOptionals("beta with all header optionals".getBytes(UTF_8))
    val c = gz(Array.fill(100000)('c'.toByte))
    val whole = a ++ b ++ c
    assert(CcIndex.memberSpans(whole) == Seq(
      (0L, a.length.toLong),
      (a.length.toLong, b.length.toLong),
      ((a.length + b.length).toLong, c.length.toLong)))
    // a span re-slices to a self-contained gzip stream
    val slice = whole.slice(a.length, a.length + b.length)
    val back = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(slice)).readAllBytes()
    assert(back.sameElements(
      "beta with all header optionals".getBytes(UTF_8)))
    // truncation mid-member keeps the members already found
    assert(CcIndex.memberSpans(whole.dropRight(c.length / 2)) == Seq(
      (0L, a.length.toLong), (a.length.toLong, b.length.toLong)))
    // tail garbage after valid members: same fail-soft
    assert(CcIndex.memberSpans(a ++ Array[Byte](1, 2, 3)) ==
      Seq((0L, a.length.toLong)))
    assert(CcIndex.memberSpans(Array[Byte](1, 2, 3)).isEmpty)
    assert(CcIndex.memberSpans(Array.empty[Byte]).isEmpty)
  }

  test("coalesce merges gap-adjacent ranges under the read cap") {
    // contiguous members merge into one read
    assert(CcIndex.coalesce(
      Seq((0L, 10L), (10L, 10L), (20L, 10L)), 0L, 1000L) ==
      Seq((0L, 30L, Seq((0L, 10L), (10L, 10L), (20L, 10L)))))
    // a gap over gapBytes splits groups
    assert(CcIndex.coalesce(
      Seq((0L, 10L), (100L, 10L)), 50L, 1000L) ==
      Seq((0L, 10L, Seq((0L, 10L))), (100L, 10L, Seq((100L, 10L)))))
    // a gap within gapBytes merges ACROSS the unselected bytes
    assert(CcIndex.coalesce(
      Seq((0L, 10L), (100L, 10L)), 90L, 1000L) ==
      Seq((0L, 110L, Seq((0L, 10L), (100L, 10L)))))
    // maxReadBytes caps group growth even when contiguous
    assert(CcIndex.coalesce(
      Seq((0L, 10L), (10L, 10L), (20L, 10L)), 0L, 25L) ==
      Seq((0L, 20L, Seq((0L, 10L), (10L, 10L))),
        (20L, 10L, Seq((20L, 10L)))))
    // zero/negative lengths drop
    assert(CcIndex.coalesce(Seq((0L, 0L), (5L, -3L)), 0L, 10L).isEmpty)
    assert(CcIndex.coalesce(Nil, 0L, 10L).isEmpty)
  }

  test("recordAt fetches exactly the member's record by (offset, length)") {
    val recs = (0 until 5).map { i =>
      gz(WarcSink.warcRecord("response",
        Seq("WARC-Target-URI" -> s"https://e.test/p$i"),
        "application/http; msgtype=response", s"payload-$i".getBytes(UTF_8)))
    }
    val f = java.io.File.createTempFile("ccindex-recordat", ".warc.gz")
    f.deleteOnExit()
    val out = new java.io.FileOutputStream(f)
    recs.foreach(out.write); out.close()
    val spans = CcIndex.memberSpans(
      java.nio.file.Files.readAllBytes(f.toPath))
    assert(spans.size == 5)
    val (off, len) = spans(3)
    val r = CcIndex.recordAt(f.getAbsolutePath, off, len).get
    assert(r.headers("warc-target-uri") == "https://e.test/p3")
    assert(r.payloadString == "payload-3")
    // a non-gzip member (zstd frame / plain bytes) takes the sniffing
    // fallback: same record either way
    val plain = WarcSink.warcRecord("response",
      Seq("WARC-Target-URI" -> "https://e.test/plain"),
      "application/http; msgtype=response", "plain-rec".getBytes(UTF_8))
    val inf = new java.util.zip.Inflater(true)
    try {
      val viaFallback = CcIndex.memberRecord(plain, 0, plain.length, inf)
      assert(viaFallback.exists(_.payloadString == "plain-rec"))
      val zBytes = com.github.luben.zstd.Zstd.compress(plain)
      assert(CcIndex.memberRecord(zBytes, 0, zBytes.length, inf)
        .exists(_.payloadString == "plain-rec"))
    } finally inf.end()
    // degenerate lengths fail closed
    assert(CcIndex.recordAt(f.getAbsolutePath, off, 0L).isEmpty)
    assert(CcIndex.recordAt(f.getAbsolutePath, off, -5L).isEmpty)
  }

  test("index predicates push into the parquet scan") {
    val (idxPath, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val filtered = spark.read.parquet(idxPath)
      .where(col("fetch_status") === 200 &&
        col("content_mime_type") === "text/html")
    // executedPlan.toString truncates long field lists at ~100 chars,
    // so assert on fragments that survive the truncation
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(fetch_status), " +
      "IsNotNull(content_mime_type), EqualTo(fetch_status,200)"),
      s"index predicates must reach the scan:\n$plan")
  }

  test("ranged fetch matches the whole-file warc scan on the selected subset") {
    val (idxPath, warcs) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val idx = spark.read.parquet(idxPath)
      .where(col("fetch_status") === 200 &&
        col("content_mime_type") === "text/html")
    val ranged = CcIndex.fetchHtmlPages(idx)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    // the whole-file path over the same archives, filtered to the ids
    // the index selected
    val keepIds = idx.select("url").collect().map(_.getString(0)).toSet
    val full = spark.read.format("warc").load(warcs: _*)
      .select(col("page_url"), col("html"))
      .collect().map(r => (r.getString(0), r.getString(1)))
      .filter(p => keepIds.contains(p._1)).sorted
    assert(ranged.length == full.length && ranged.sameElements(full))
    // and the excluded rows (404s / non-HTML mime) were never fetched
    val allUrls = spark.read.parquet(idxPath).count()
    assert(ranged.length < allUrls)
  }

  test("region split (tiny splitBytes) yields the same rows") {
    val (idxPath, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val idx = spark.read.parquet(idxPath)
      .where(col("fetch_status") === 200 &&
        col("content_mime_type") === "text/html")
    val wide = CcIndex.fetchHtmlPages(idx)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    // 4 KiB regions: many groups per archive, order preserved per task
    val narrow = CcIndex.fetchHtmlPages(idx, splitBytes = 4096L)
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(narrow.sameElements(wide))
  }

  test("payloadDigest hashes the HTTP entity body only (WARC-Payload-Digest)") {
    val body = "<html><body>hello digest</body></html>".getBytes(UTF_8)
    val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body
    // pinned independently (python hashlib + base64.b32encode): the
    // digest of the BODY — the public content_digest convention — not
    // of the whole block (status line + headers + body), which would
    // mismatch every real cc-index row and drop 100% of fetches
    assert(CcIndex.payloadDigest(http) ==
      "UR74RV4TSKC32Y2NZJXSJPQZLBBK35V5")
    assert(CcIndex.sha1Base32(http) == // what full-block hashing reads
      "W2VFRGBDMWBNI6IPHBYQ2YHKVBFUEWPG")
    // different headers, same body → same payload digest (the witness
    // that headers are outside the digest)
    val http2 = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      s"Server: other\r\nContent-Length: ${body.length}\r\n\r\n")
      .getBytes(UTF_8) ++ body
    assert(CcIndex.payloadDigest(http2) == CcIndex.payloadDigest(http))
    // non-HTTP block: the whole block is the payload
    assert(CcIndex.payloadDigest("abc".getBytes(UTF_8)) ==
      "VGMT4NSHA2AWVOR6EVYXQUGCNSONBWE5")
    // headerless/truncated HTTP prefix: falls back to whole-block
    val trunc = "HTTP/1.1 200 OK\r\nContent-".getBytes(UTF_8)
    assert(CcIndex.payloadDigest(trunc) == CcIndex.sha1Base32(trunc))
  }

  test("content_digest verifies on fetch: a stale index row drops") {
    import spark.implicits._
    val (idxPath, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val idx = spark.read.parquet(idxPath)
      .where(col("fetch_status") === 200 &&
        col("content_mime_type") === "text/html")
    // RFC 4648 vector: base32(sha1("abc")) — 20 bytes, 32 chars exactly
    assert(CcIndex.sha1Base32("abc".getBytes("UTF-8")) ==
      "VGMT4NSHA2AWVOR6EVYXQUGCNSONBWE5")
    // baseline: every row fetches with its real digest
    val ok = CcIndex.fetchHtmlPages(idx).count()
    assert(ok == idx.count())
    // a stale index: one row's offset/length swapped with ANOTHER
    // valid member — the member decodes fine (gzip CRC passes), only
    // the digest can catch that it is the WRONG record
    val rows = idx.orderBy("url").limit(2).collect()
    val swapped = idx
      .where(col("url") === rows(0).getAs[String]("url"))
      .withColumn("warc_record_offset",
        lit(rows(1).getAs[Long]("warc_record_offset")))
      .withColumn("warc_record_length",
        lit(rows(1).getAs[Long]("warc_record_length")))
      .withColumn("warc_filename",
        lit(rows(1).getAs[String]("warc_filename")))
    assert(CcIndex.fetchHtmlPages(swapped).count() == 0)
    // …and WITHOUT the digest column the wrong page comes back — the
    // counterfactual showing the verification is load-bearing
    assert(CcIndex.fetchHtmlPages(swapped.drop("content_digest"))
      .count() == 1)
  }

  test("crawl= partition layout statically prunes to the crawls touched") {
    val (pidxPath, _) = WatFixture.ensureDocCcIndexPartitioned(spark,
      "/root/testdata/sf0.001")
    // the public table's directory shape exists on disk
    val crawlDirs = new java.io.File(pidxPath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(crawlDirs.toSeq ==
      Seq("crawl=CC-TEST-2024-01", "crawl=CC-TEST-2024-02"))
    assert(new java.io.File(new java.io.File(pidxPath, crawlDirs(0)),
      "subset=warc").isDirectory)
    val idx = spark.read.parquet(pidxPath)
    // a one-crawl predicate lands in PartitionFilters and lists ONE
    // of the two crawl partitions — on the real ~90-crawl table this
    // is the difference between scanning 2 months and a decade
    val one = idx.where(col("crawl") === "CC-TEST-2024-02" &&
      col("subset") === "warc")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      "\\(crawl#\\d+ = CC-TEST-2024-02\\)".r.findFirstIn(plan).isDefined,
      s"the crawl predicate must land in PartitionFilters:\n${plan.take(1500)}")
    val scanned = one.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount
    }
    assert(scanned == Seq(1),
      s"expected exactly 1 selected partition, got $scanned")
    // content_languages is a DATA column (not a partition) and its
    // predicate pushes into the parquet scan
    val lang = idx.where(col("crawl") === "CC-TEST-2024-02" &&
      col("content_languages").contains("eng"))
    assert(lang.queryExecution.executedPlan.toString
      .contains("StringContains(content_languages,eng)"),
      "the language predicate must push into the scan")
    // the current partition is the full index; the previous drops %5==0
    val (idxPath, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val base = spark.read.parquet(idxPath).count()
    assert(one.count() == base)
    assert(idx.where(col("crawl") === "CC-TEST-2024-01").count() < base)
  }

  test("K-crawl delta prunes to exactly the window + current partitions") {
    val (kidxPath, _) = WatFixture.ensureDocCcIndexMultiCrawl(spark,
      "/root/testdata/sf0.001")
    val crawlDirs = new java.io.File(kidxPath).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(crawlDirs.toSeq == Seq("crawl=CC-TEST-2024-01",
      "crawl=CC-TEST-2024-02", "crawl=CC-TEST-2024-03",
      "crawl=CC-TEST-2024-04"))
    val idx = spark.read.parquet(kidxPath)
    val cur = idx.where(col("crawl") === "CC-TEST-2024-04" &&
      col("subset") === "warc")
    val history = idx.where(
      col("crawl").isin("CC-TEST-2024-02", "CC-TEST-2024-03") &&
        col("subset") === "warc")
    val delta = CcIndex.deltaAgainstHistory(cur, history)
    // the isin + equality predicates land in PartitionFilters and the
    // two scans together touch 3 of the 4 crawl partitions — 2024-01
    // is NEVER read. The join wraps the plan in AQE, so the traversal
    // must descend through AdaptiveSparkPlanExec.
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[Int] = p match {
      case a: org.apache.spark.sql.execution.adaptive
          .AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(s.selectedPartitions.partitionCount)
      case other => other.children.flatMap(scans)
    }
    val scanned = scans(delta.queryExecution.executedPlan)
    assert(scanned.sorted == Seq(1, 2),
      s"expected partitions (1 current, 2 history), got $scanned")
    // the pruning is SEMANTICALLY load-bearing, not just IO: 2024-01
    // holds every "new" id at its current digest, so widening the
    // window to include it would empty the new-url half of the delta
    val urls = delta.select("url").collect().map(_.getString(0))
    val newIds = urls.map(CcIndex.docIdOf).filter(_ % 6 == 1)
    assert(newIds.nonEmpty, "fixture must produce new-url delta rows")
    val widened = CcIndex.deltaAgainstHistory(cur,
      idx.where(col("subset") === "warc" &&
        col("crawl") =!= "CC-TEST-2024-04"))
    val widenedIds = widened.select("url").collect()
      .map(r => CcIndex.docIdOf(r.getString(0)))
    assert(!widenedIds.exists(_ % 6 == 1),
      "including 2024-01 must absorb the new-url rows — proof the " +
        "window selection (and its pruning) decides the answer")
    // a url recrawled in BOTH history months joins once, not twice:
    // the history side is pre-aggregated to distinct (url, digest)
    val historyDedup = history
      .select("url", "content_digest").distinct().count()
    val historyRaw = history.select("url", "content_digest").count()
    assert(historyRaw > historyDedup,
      "fixture must carry the url in both months for the dedup to matter")
  }

  test("revisit rows resolve to the original capture, byte-identical") {
    val (idx1Path, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val (idx2Path, _) =
      WatFixture.ensureDocCcIndex2(spark, "/root/testdata/sf0.001")
    val idx2 = spark.read.parquet(idx2Path)
    // the crawl-2 index carries warc/revisit rows for exactly %9==2,
    // each with the ORIGINAL payload's digest (from the record's
    // WARC-Payload-Digest header)
    val revisits = idx2.where(col("content_mime_type") === "warc/revisit")
    assert(revisits.count() > 0)
    for (r <- revisits.collect()) {
      val id = CcIndex.docIdOf(r.getAs[String]("url"))
      assert(id % 9 == 2, s"unexpected revisit id $id")
    }
    val cur = idx2.where(col("fetch_status") === 200)
    val prev = spark.read.parquet(idx1Path)
    // WITHOUT resolution the revisit captures silently vanish (the
    // non-response record drops into readErrors) — the data-loss
    // counterfactual this operator exists for
    val unresolved = CcIndex.fetchHtmlPages(
        cur.where(col("content_mime_type") =!= "warc/revisit"))
      .collect().map(_.getString(0)).toSet
    val resolved = CcIndex.fetchHtmlPages(
        CcIndex.resolveRevisits(cur, prev))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val revisitUrls = cur
      .where(col("content_mime_type") === "warc/revisit")
      .select("url").collect().map(_.getString(0)).toSet
    assert(revisitUrls.nonEmpty)
    assert(revisitUrls.forall(u => !unresolved.contains(u)))
    val resolvedUrls = resolved.map(_._1).toSet
    assert(revisitUrls.forall(resolvedUrls.contains))
    assert(resolved.length.toLong == cur.count()) // nothing dropped
    // byte-identity, digest-keyed: the revisit-resolved page equals a
    // direct fetch of the ORIGINAL capture carrying that digest — for
    // cross-url revisits ((id/9)%3==1 reference the previous doc's
    // content) that is a DIFFERENT url's capture, attributed to the
    // revisit's url
    val wantDigest = cur
      .where(col("content_mime_type") === "warc/revisit")
      .select("url", "content_digest").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val urlOfDigest = prev.select("content_digest", "url").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val directByUrl = CcIndex.fetchHtmlPages(prev)
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val byUrl = resolved.toMap
    var crossSeen = 0
    for (u <- revisitUrls) {
      val origUrl = urlOfDigest(wantDigest(u))
      if (origUrl != u) crossSeen += 1
      assert(byUrl(u) == directByUrl(origUrl),
        s"revisit payload for $u differs from its original capture " +
          s"at $origUrl")
    }
    assert(crossSeen > 0, "fixture must exercise cross-url revisits")
  }

  test("unmatched revisits drop COUNTED, not silently") {
    val (idx1Path, _) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val (idx2Path, _) =
      WatFixture.ensureDocCcIndex2(spark, "/root/testdata/sf0.001")
    val cur = spark.read.parquet(idx2Path)
      .where(col("fetch_status") === 200)
    // an original index whose digests can satisfy NO revisit: every
    // digest altered
    val prev = spark.read.parquet(idx1Path)
      .withColumn("content_digest",
        concat(col("content_digest"), lit("-gone")))
    val acc = spark.sparkContext.longAccumulator("test.unresolved")
    val out = CcIndex.resolveRevisits(cur, prev, acc)
    val responses = cur
      .where(col("content_mime_type") =!= "warc/revisit").count()
    val revisits = cur
      .where(col("content_mime_type") === "warc/revisit").count()
    assert(revisits > 0)
    assert(out.count() == responses) // unmatched revisits dropped...
    assert(acc.value == revisits,   // ...and every drop is accounted
      s"expected $revisits unresolved revisits counted, got ${acc.value}")
    // the same accumulator reads ZERO when every revisit resolves
    val acc2 = spark.sparkContext.longAccumulator("test.unresolved2")
    val full = CcIndex.resolveRevisits(cur,
      spark.read.parquet(idx1Path), acc2)
    assert(full.count() == cur.count() && acc2.value == 0L)
  }

  test("revisit resolution composes with the BINARY fetch (media)") {
    val (idx1Path, _) =
      WatFixture.ensureDocMediaCcIndex(spark, "/root/testdata/sf0.001")
    val (idx2Path, _) =
      WatFixture.ensureDocMediaCcIndex2(spark, "/root/testdata/sf0.001")
    val cur = spark.read.parquet(idx2Path)
      .where(col("fetch_status") === 200)
    val prev = spark.read.parquet(idx1Path)
    // crawl-2 media revisits are exactly the %9==2 admitted ids and
    // carry NO response capture of their own
    val revisitIds = cur
      .where(col("content_mime_type") === "warc/revisit")
      .select("url").collect()
      .map(r => CcIndex.docIdOf(r.getString(0))).sorted
    assert(revisitIds.nonEmpty && revisitIds.forall(_ % 9 == 2))
    // without resolution those ids vanish from the binary fetch
    val direct = CcIndex.fetchRecords(
        cur.where(col("content_mime_type") =!= "warc/revisit"))
      .collect().map(r => CcIndex.docIdOf(r.getString(0))).toSet
    assert(revisitIds.forall(id => !direct.contains(id)))
    // resolved: every admitted id comes back with the EXACT blob bytes
    val resolved = CcIndex.fetchRecords(
        CcIndex.resolveRevisits(cur, prev))
      .collect().map(r =>
        (CcIndex.docIdOf(r.getString(0)), r.getAs[Array[Byte]](1)))
    assert(resolved.length.toLong == cur.count())
    for ((id, body) <- resolved)
      assert(java.util.Arrays.equals(body,
        graft.ext.Multimodal.mixedBlobFor(id)),
        s"doc $id bytes differ after revisit resolution")
  }

  test("fetchRecords returns the raw entity bytes, digest-verified") {
    val (idxPath, _) =
      WatFixture.ensureDocMediaCcIndex(spark, "/root/testdata/sf0.001")
    val idx = spark.read.parquet(idxPath)
      .where(col("fetch_status") === 200)
    val got = CcIndex.fetchRecords(idx).collect()
      .map(r => (CcIndex.docIdOf(r.getString(0)), r.getAs[Array[Byte]](1)))
    assert(got.length.toLong == idx.count())
    // byte-identity with the closed-form generator for every record
    for ((id, body) <- got)
      assert(java.util.Arrays.equals(body,
        graft.ext.Multimodal.mixedBlobFor(id)),
        s"doc $id bytes differ from mixedBlobFor")
    // the digest still gates: re-point one row at another member
    val rows = idx.orderBy("url").limit(2).collect()
    val swapped = idx
      .where(col("url") === rows(0).getAs[String]("url"))
      .withColumn("warc_record_offset",
        lit(rows(1).getAs[Long]("warc_record_offset")))
      .withColumn("warc_record_length",
        lit(rows(1).getAs[Long]("warc_record_length")))
      .withColumn("warc_filename",
        lit(rows(1).getAs[String]("warc_filename")))
    assert(CcIndex.fetchRecords(swapped).count() == 0)
  }

  test("buildIndex rows carry real offsets and the closed-form columns") {
    val (idxPath, warcs) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val rows = spark.read.parquet(idxPath).collect()
    assert(rows.nonEmpty)
    for (r <- rows.take(20)) {
      val url = r.getAs[String]("url")
      val id = CcIndex.docIdOf(url)
      assert(id >= 0)
      assert(r.getAs[String]("url_host_name") == "docs.test")
      assert(r.getAs[String]("content_mime_type") ==
        (if (id % 13 == 5) "application/pdf" else "text/html"))
      assert(r.getAs[Int]("fetch_status") ==
        (if (id % 11 == 3) 404 else 200))
      // the (offset, length) really frames this url's record
      val rec = CcIndex.recordAt(r.getAs[String]("warc_filename"),
        r.getAs[Long]("warc_record_offset"),
        r.getAs[Long]("warc_record_length")).get
      assert(rec.headers("warc-target-uri") == url)
    }
    // one row per document, all shards covered
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .where(col("doc_id").isNotNull).count()
    assert(rows.length.toLong == docs)
    assert(rows.map(_.getAs[String]("warc_filename")).distinct.length ==
      warcs.length)
  }

  test("buildIndexFromRecords counts a failed fetch; other archives " +
      "survive") {
    val (_, warcs) =
      WatFixture.ensureDocCcIndex(spark, "/root/testdata/sf0.001")
    val missing = warcs.head + ".missing"
    val alone = CcIndex.buildIndexFromRecords(spark, warcs.take(1)).count()
    val idx = CcIndex.buildIndexFromRecords(spark, Seq(warcs.head, missing))
    assert(alone > 0 && idx.collect().length == alone)
    assert(SparkTestBase.corruptArchives(idx) == 1L)
  }
}
