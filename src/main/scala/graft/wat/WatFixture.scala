package graft.wat

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

/** Synthetic `.warc.wat.gz` fixture mirroring the envelope shape the
  * reference navigates (FIXTURES.md §B) — zero-egress replacement for the
  * reference's pinned live CC URL. One gzip member per record, like real
  * CC archives (exercises multi-member decompression).
  */
object WatFixture {

  def warcRecord(warcType: String, payload: String,
      targetUri: Option[String] = None,
      contentType: String = "application/json"): Array[Byte] =
    warcRecordBytes(warcType, payload.getBytes(UTF_8), targetUri,
      contentType)

  def warcRecordBytes(warcType: String, body: Array[Byte],
      targetUri: Option[String],
      contentType: String,
      extraHeaders: Seq[(String, String)] = Nil): Array[Byte] = {
    val sb = new StringBuilder
    sb.append("WARC/1.0\r\n")
    sb.append(s"WARC-Type: $warcType\r\n")
    targetUri.foreach(u => sb.append(s"WARC-Target-URI: $u\r\n"))
    extraHeaders.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${body.length}\r\n")
    sb.append("\r\n")
    val head = sb.toString.getBytes(UTF_8)
    val out = new ByteArrayOutputStream()
    out.write(head); out.write(body); out.write("\r\n\r\n".getBytes(UTF_8))
    out.toByteArray
  }

  private def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  private def envelope(pageUrl: String, headBase: Option[String],
      links: Seq[(String, String, String, String)],
      respExtras: String = "", htmlExtras: String = ""): String = {
    // link tuple: (path, url, alt, text); empty strings omitted.
    // respExtras / htmlExtras inject additional (schema-invisible) JSON
    // keys into HTTP-Response-Metadata / HTML-Metadata — the realistic-
    // envelope bloat real CC records carry (full response headers, Head
    // title/metas/scripts) that the extraction never navigates. Must end
    // with ", " when non-empty.
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val linkJson = links.map { case (path, url, alt, text) =>
      val fields = Seq(
        Some(s""""path": "${esc(path)}""""),
        Some(s""""url": "${esc(url)}""""),
        if (alt.nonEmpty) Some(s""""alt": "${esc(alt)}"""") else None,
        if (text.nonEmpty) Some(s""""text": "${esc(text)}"""") else None
      ).flatten
      fields.mkString("{", ", ", "}")
    }.mkString("[", ", ", "]")
    val baseJson = headBase.map(b => s""""Head": {"Base": "${esc(b)}"}, """).getOrElse("")
    s"""{
       |  "Container": {"Filename": "crawl-data/CC-TEST/seg/wat/fixture-00000.warc.wat.gz"},
       |  "Envelope": {
       |    "WARC-Header-Metadata": {"WARC-Target-URI": "${esc(pageUrl)}"},
       |    "Payload-Metadata": {
       |      "HTTP-Response-Metadata": {
       |        $respExtras"HTML-Metadata": {
       |          $baseJson$htmlExtras"Links": $linkJson
       |        }
       |      }
       |    }
       |  }
       |}""".stripMargin
  }

  /** The canonical fixture records (FIXTURES.md §B). */
  def records: Seq[Array[Byte]] = Seq(
    // warcinfo record — must be filtered out by type
    warcRecord("warcinfo", """{"software": "graft-fixture"}"""),
    // r1: full record with Head.Base and every link kind
    warcRecord("metadata", envelope("https://example.com/page/1",
      Some("https://example.com/base/"), Seq(
        ("IMG@/src", "img/cat.jpg", "a cat", ""),
        ("IMG@/src", "https://cdn.example.com/dog.png", "", ""),
        ("A@/href", "song.mp3", "", "a song"),
        ("A@/href", "paper.pdf", "", "a paper"),
        ("A@/href", "clip.mp4", "", "a clip"),
        ("A@/href", "//proto-relative.com/x.wav", "", "pr"),
        ("A@/href", "ftp://bad.example/file.mp3", "", "dropped by scheme filter"))),
      Some("https://example.com/page/1")),
    // r2-r4: missing-ancestor skip paths (main.py:146-153)
    warcRecord("metadata",
      """{"Container": {"Filename": "f"}, "Envelope": {"Payload-Metadata": {}}}"""),
    warcRecord("metadata",
      """{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": {}}}}"""),
    warcRecord("metadata",
      """{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {}}}}}"""),
    // r5: malformed JSON — per-record tolerance (main.py:139-142)
    warcRecord("metadata", """{"Envelope": {"broken..."""),
    // r6: no Head.Base → base = WARC-Target-URI (main.py:159)
    warcRecord("metadata", envelope("https://nobase.example.com/dir/page.html",
      None, Seq(("IMG@/src", "pic.png", "pic", ""))),
      Some("https://nobase.example.com/dir/page.html")),
    // r7: duplicate (alt, url) of r1's cat (already absolute) → dedup food
    warcRecord("metadata", envelope("https://example.com/page/7",
      None, Seq(("IMG@/src", "https://example.com/base/img/cat.jpg", "a cat", ""))),
      Some("https://example.com/page/7")),
    // r8: text link with query string — split-on-dot rejects (main.py:56-62)
    warcRecord("metadata", envelope("https://example.com/page/8",
      None, Seq(("A@/href", "a.pdf?x=1", "", "qs doc"))),
      Some("https://example.com/page/8"))
  )

  /** Write the fixture as a multi-member gzip WARC; returns the path. */
  def write(path: String): String = {
    val out = new FileOutputStream(path)
    try records.foreach(r => out.write(gzipMember(r)))
    finally out.close()
    path
  }

  /** Deterministic synthetic WAT of arbitrary size (seeded) — for
    * extraction throughput benchmarks. Each record carries a mix of
    * image/audio/text/video/relative links.
    *
    * `bloatUnits` > 0 pads every record with realistic NEVER-NAVIGATED
    * envelope fields (full response headers, Head title/metas/scripts —
    * the shapes surrounding the reference's navigation,
    * cc2dataset/main.py:144-164): real CC records are dominated by such
    * metadata, while the lean fixture is nearly all Links. The padding
    * draws from its own Random so the LINK STREAM IS BYTE-IDENTICAL to
    * the lean fixture at the same seed — extraction output (and its
    * golden hashes) must not change, only the JSON lex-and-skip cost.
    * Each unit adds ~1 KB; ~10 units ≈ the 10× envelope-bloat probe.
    */
  /** The seeded per-record link stream — ONE draw sequence shared by
    * [[syntheticWat]] and [[syntheticWarc]], so the two fixtures emit
    * the same pages by construction (the q_warc_extract parity oracle
    * rests on this): (page url, Head.Base when r%3==0, link tuples
    * (path, url, alt, text) with "" for absent).
    */
  private def syntheticPageLinks(rnd: scala.util.Random, r: Int,
      linksPerRecord: Int)
      : (String, Option[String], Seq[(String, String, String, String)]) = {
    val page = s"https://site${rnd.nextInt(1000)}.test/dir$r/page.html"
    val links = (0 until linksPerRecord).map { l =>
      val n = rnd.nextInt(1000000)
      rnd.nextInt(5) match {
        case 0 => ("IMG@/src", s"img/cat$n.jpg", s"alt text $n", "")
        case 1 => ("IMG@/src", s"https://cdn.test/dog$n.png", "", "")
        case 2 => ("A@/href", s"media/song$n.mp3", "", s"song $n")
        case 3 => ("A@/href", s"/docs/paper$n.pdf", "", s"paper $n")
        case _ => ("A@/href", s"//video.test/clip$n.mp4", "", s"clip $n")
      }
    }
    (page, if (r % 3 == 0) Some(s"https://base$r.test/b/") else None, links)
  }

  def syntheticWat(path: String, nRecords: Int, linksPerRecord: Int,
      seed: Long, bloatUnits: Int = 0): String = {
    val rnd = new scala.util.Random(seed)
    val out = new FileOutputStream(path)
    try {
      (0 until nRecords).foreach { r =>
        val (page, base, links) = syntheticPageLinks(rnd, r, linksPerRecord)
        val (respEx, htmlEx) =
          if (bloatUnits <= 0) ("", "")
          else {
            val b = new scala.util.Random(seed * 31 + r) // own stream
            val headers = (s""""Headers": {"Content-Type": "text/html; charset=UTF-8", """ +
              s""""Server": "nginx/1.${b.nextInt(30)}", "X-Request-Id": "${b.nextLong().toHexString}", """ +
              s""""Cache-Control": "max-age=${b.nextInt(86400)}", "Set-Cookie": "sess=${b.nextLong().toHexString}; Path=/"}, """) +
              s""""Headers-Length": "${200 + b.nextInt(800)}", "Entity-Length": "${5000 + b.nextInt(90000)}", """
            val metas = (0 until bloatUnits).map { i =>
              s"""{"name": "meta-$i", "content": "${(0 until 10).map(_ => s"v${b.nextInt(1000)}").mkString(" ")}"}"""
            }.mkString("[", ", ", "]")
            val scripts = (0 until bloatUnits * 6).map { i =>
              s"""{"path": "SCRIPT@/src", "url": "https://static.site${b.nextInt(100)}.test/js/app-$i-${b.nextLong().toHexString}.min.js"}"""
            }.mkString("[", ", ", "]")
            (headers,
              s""""Title": "page $r ${b.nextLong().toHexString}", "Metas": $metas, "Scripts": $scripts, """)
          }
        out.write(gzipMember(warcRecord("metadata",
          envelope(page, base, links, respEx, htmlEx),
          Some(page))))
      }
    } finally out.close()
    path
  }

  /** HTML page carrying exactly the given WAT-shaped link tuples, in
    * order — the raw-WARC twin of [[envelope]]. Non-link noise (title,
    * paragraph, a script containing a FAKE img tag, an HTML comment
    * with a fake anchor) is deterministic per `r` and must be invisible
    * to the extractor.
    */
  def pageHtml(r: Int, base: Option[String],
      links: Seq[(String, String, String, String)]): String = {
    def esc(s: String) = s.replace("&", "&amp;").replace("\"", "&quot;")
      .replace("<", "&lt;")
    val body = links.map {
      case ("IMG@/src", url, alt, _) =>
        if (alt.isEmpty) s"""<img src="${esc(url)}">"""
        else s"""<img src="${esc(url)}" alt="${esc(alt)}">"""
      case ("A@/href", url, _, text) =>
        s"""<a href="${esc(url)}">${esc(text)}</a>"""
      case (path, _, _, _) =>
        throw new IllegalArgumentException(s"unknown link path: $path")
    }.mkString("\n    ")
    val baseTag = base.map(b => s"""<base href="${esc(b)}">""").getOrElse("")
    s"""<!DOCTYPE html>
       |<html><head><title>page $r</title>$baseTag
       |<script>var fake = "<img src='trap-$r.jpg' alt='trap'>";</script>
       |<style>.x { background: url('trap-$r.png'); }</style>
       |</head><body>
       |  <!-- <a href="comment-trap-$r.html">not a link</a> -->
       |  <p>deterministic filler paragraph $r</p>
       |    ${body}
       |</body></html>""".stripMargin
  }

  /** The raw-WARC twin of [[syntheticWat]]: SAME seed → SAME pages,
    * emitted as `response` records whose HTTP bodies are real HTML.
    * Extraction over this file must hash-match extraction over the WAT
    * at the same seed (the q_warc_extract parity oracle).
    */
  def syntheticWarc(path: String, nRecords: Int, linksPerRecord: Int,
      seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val out = new FileOutputStream(path)
    try {
      out.write(gzipMember(warcRecord("warcinfo",
        """{"software": "graft-fixture-warc"}""")))
      (0 until nRecords).foreach { r =>
        val (page, base, links) = syntheticPageLinks(rnd, r, linksPerRecord)
        val html = pageHtml(r, base, links).getBytes(UTF_8)
        val http = (s"HTTP/1.1 200 OK\r\n" +
          s"Content-Type: text/html; charset=UTF-8\r\n" +
          s"Content-Length: ${html.length}\r\n\r\n").getBytes(UTF_8)
        out.write(gzipMember(warcRecordBytes("response", http ++ html,
          Some(page), "application/http; msgtype=response")))
      }
    } finally out.close()
    path
  }

  /** Bump when syntheticWat generation changes — the tmp cache below is
    * keyed on it, so stale archives from an older generator never leak
    * into a bench run.
    */
  val GenVersion = 1

  /** Canonical bench fixture shapes — referenced by BOTH the Bench warmup
    * and the q_wat_* queries so they cannot drift apart.
    */
  val BenchFleet: (Int, Int, Int) = (16, 500, 20)     // files, records, links
  val BenchSingle: (Int, Int, Int) = (1, 20000, 20)   // ~400k links, 1 task

  def ensureFleet(): Seq[String] =
    ensureBenchWats(BenchFleet._1, BenchFleet._2, BenchFleet._3)

  def ensureSingle(): Seq[String] =
    ensureBenchWats(BenchSingle._1, BenchSingle._2, BenchSingle._3)

  /** 64-archive fleet for the `max_tasks` batching bench — same
    * per-archive shape as [[ensureFleet]] (its first 16 files ARE the
    * fleet: the series is seeded per index, so extending it is
    * value-stable).
    */
  def ensureFleet64(): Seq[String] =
    ensureBenchWats(64, BenchFleet._2, BenchFleet._3)

  /** Idempotently materialize `n` deterministic bench WATs in tmp.
    * `bloatUnits` variants (same seeds → same link stream, fatter
    * envelopes) cache under distinct names.
    */
  def ensureBenchWats(n: Int, nRecords: Int = 500,
      linksPerRecord: Int = 20, bloatUnits: Int = 0): Seq[String] = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-bench-wats-v$GenVersion")
    dir.mkdirs()
    val tag = if (bloatUnits > 0) s"-b$bloatUnits" else ""
    (0 until n).map { i =>
      val f = new java.io.File(dir, s"bench-$nRecords-$linksPerRecord-$i$tag.warc.wat.gz")
      if (!f.exists()) {
        // write-then-rename: a process killed mid-generation must not
        // leave a truncated archive that a later run silently reuses
        val tmp = new java.io.File(dir, f.getName +
          s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
        syntheticWat(tmp.getAbsolutePath, nRecords, linksPerRecord,
          seed = 1000L + i, bloatUnits = bloatUnits)
        if (!tmp.renameTo(f) && !f.exists())
          throw new java.io.IOException(s"could not materialize $f")
        tmp.delete()
      }
      f.getAbsolutePath
    }
  }

  /** The raw-WARC twin of [[ensureFleet]]: same per-index seeds, so
    * page r of warc i IS page r of wat i re-emitted as HTML.
    */
  def ensureWarcFleet(): Seq[String] =
    ensureBenchWarcs(BenchFleet._1, BenchFleet._2, BenchFleet._3)

  /** Shared scaffold for the documents-table archive fixtures: read +
    * sort the docs, build the cache tag -- a CONTENT fingerprint (a
    * regenerated table at the same path/cardinality must invalidate
    * the shards, or the Spark side would read stale pages while the
    * oracle reads fresh parquet) PLUS the shard count (a 3-shard
    * request must never reuse a 4-shard layout: the id % shards
    * membership differs) -- and write-then-rename each missing shard
    * through `writeShard`.
    */
  private def ensureDocShards(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int, dirName: String, suffix: String)(
      writeShard: (FileOutputStream, Seq[(Long, String)]) => Unit)
      : Seq[String] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id").isNotNull)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"$dirName-v$GenVersion")
    dir.mkdirs()
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.foreach { case (id, text) =>
      md.update(s"$id:$text\u0000".getBytes(UTF_8))
    }
    val fp = md.digest().take(6).map("%02x".format(_)).mkString
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_") +
      s"-${docs.length}-$fp-s$shards"
    (0 until shards).map { i =>
      val f = new java.io.File(dir, s"docs-$tag-$i$suffix")
      if (!f.exists()) {
        val tmp = new java.io.File(dir, f.getName +
          s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
        val out = new FileOutputStream(tmp)
        try writeShard(out, docs.filter(_._1 % shards == i).toSeq)
        finally out.close()
        if (!tmp.renameTo(f) && !f.exists())
          throw new java.io.IOException(s"could not materialize $f")
        tmp.delete()
      }
      f.getAbsolutePath
    }
  }

  /** WARC shards carrying the DOCUMENTS table as HTML pages: doc r
    * becomes a response record at the closed-form url
    * `https://docs.test/doc<id>.html` whose body is the q_boilerplate
    * scaffold around the doc's text (ExtQueries.bpHtmlFor) — so the
    * raw-WARC text pipeline is oracle-checkable ENTIRELY in SQL:
    * DuckDB rebuilds the identical pages from the documents table, no
    * committed dump needed. Caching/sharding via [[ensureDocShards]].
    */
  def ensureDocWarcs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-warcs", ".warc.gz") {
      (out, docs) =>
        for ((id, text) <- docs) {
          require(!text.contains('<') && !text.contains('&'),
            s"doc $id text is not HTML-safe to embed raw")
          val html = graft.queries.ExtQueries.bpHtmlFor(id, text)
            .getBytes(UTF_8)
          val http = (s"HTTP/1.1 200 OK\r\n" +
            s"Content-Type: text/html; charset=UTF-8\r\n" +
            s"Content-Length: ${html.length}\r\n\r\n").getBytes(UTF_8)
          out.write(gzipMember(warcRecordBytes("response", http ++ html,
            Some(s"https://docs.test/doc$id.html"),
            "application/http; msgtype=response")))
        }
    }

  /** WARC shards whose response bodies are the MIXED MEDIA corpus
    * (graft.ext.Multimodal.mixedBlobFor — byte-identical to the
    * in-memory q_media_triage fixture): doc id r becomes a response
    * record at `https://docs.test/doc<id>.bin` carrying the blob as an
    * application/octet-stream entity. The dir name carries `m1`: the
    * blobs derive from the GENERATOR, not the documents text the
    * shared cache tag fingerprints — bump it whenever mixedBlobFor's
    * closed forms change (the fixture-cache staleness rule).
    */
  def ensureDocMediaWarcs(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-media-warcs-m1",
      ".warc.gz") { (out, docs) =>
      for ((id, _) <- docs) {
        val blob = graft.ext.Multimodal.mixedBlobFor(id)
        val http = (s"HTTP/1.1 200 OK\r\n" +
          s"Content-Type: application/octet-stream\r\n" +
          s"Content-Length: ${blob.length}\r\n\r\n").getBytes(UTF_8)
        out.write(gzipMember(warcRecordBytes("response", http ++ blob,
          Some(s"https://docs.test/doc$id.bin"),
          "application/http; msgtype=response")))
      }
    }

  /** Second-crawl MEDIA shards — the crawl-time-dedup shape over the
    * mixed corpus: ids `%9==2` are captured as `revisit` records
    * (headers-only payload; `WARC-Payload-Digest` names the blob the
    * crawl-1 media archives hold), everything else re-captured as a
    * full octet-stream response. Same-url revisits only: the
    * cross-url attribution mechanics are already oracled on the HTML
    * corpus ([[ensureDocWarcs2]]); here the point is the BINARY
    * resolution path.
    */
  def ensureDocMediaWarcs2(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-media-warcs2-m1",
      ".warc.gz") { (out, docs) =>
      for ((id, _) <- docs) {
        val blob = graft.ext.Multimodal.mixedBlobFor(id)
        val uri = s"https://docs.test/doc$id.bin"
        if (id % 9 == 2) {
          val http = ("HTTP/1.1 200 OK\r\n" +
            "Content-Type: application/octet-stream\r\n\r\n")
            .getBytes(UTF_8)
          val digest = graft.wat.CcIndex.sha1Base32(blob)
          out.write(gzipMember(warcRecordBytes("revisit", http,
            Some(uri), "application/http; msgtype=response",
            Seq("WARC-Payload-Digest" -> s"sha1:$digest"))))
        } else {
          val http = (s"HTTP/1.1 200 OK\r\n" +
            s"Content-Type: application/octet-stream\r\n" +
            s"Content-Length: ${blob.length}\r\n\r\n").getBytes(UTF_8)
          out.write(gzipMember(warcRecordBytes("response", http ++ blob,
            Some(uri), "application/http; msgtype=response")))
        }
      }
    }

  /** cc-index parquet over the crawl-2 media shards
    * ([[ensureDocMediaWarcs2]]): per-family mimes for the re-captured
    * responses, `warc/revisit` rows (digest = the original blob's)
    * for the `%9==2` captures, the usual `%11==3` → 404 rotation.
    */
  def ensureDocMediaCcIndex2(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) = {
    val warcs = ensureDocMediaWarcs2(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-media-ccindex2-v$GenVersion")
    dir.mkdirs()
    val out = new java.io.File(dir, s"midx1-$tag.parquet")
    if (!out.exists()) {
      val tmp = new java.io.File(dir, out.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      graft.wat.CcIndex.buildIndex(spark, warcs,
          mimeOf = mediaMime,
          statusOf = id => if (id % 11 == 3) 404 else 200)
        .repartition(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (!tmp.renameTo(out) && !out.exists())
        throw new java.io.IOException(s"could not materialize $out")
      if (tmp.exists())
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (out.getAbsolutePath, warcs)
  }

  /** The mixed corpus's per-family canonical mime — what CC's own
    * detector would put in the index's mime column; the closed form
    * lets a mime predicate (e.g. PDFs only) be oracled exactly.
    */
  private[wat] def mediaMime(id: Long): String = (id % 13) match {
    case 0 => "video/mp4"
    case 1 => "video/webm"
    case 2 => "video/x-msvideo"
    case 3 => "image/gif"
    case 4 => "audio/x-wav"
    case 5 => "application/x-tar"
    case 6 => "application/zip"
    case 7 => "application/pdf"
    case 8 => "image/jpeg"
    case 10 => "image/png"
    case 11 => "image/webp"
    case 12 => "image/tiff"
    case _ => "text/plain"
  }

  /** cc-index parquet over the media shards ([[ensureDocMediaWarcs]]):
    * per-family canonical mimes ([[mediaMime]] — the predicate column
    * a format-targeted extraction filters on), the usual %11==3 → 404
    * rotation (the rows a media extraction must never fetch).
    */
  def ensureDocMediaCcIndex(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) = {
    val warcs = ensureDocMediaWarcs(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-media-ccindex-v$GenVersion")
    dir.mkdirs()
    // midx2: bumped when the octet-stream mime column became the
    // per-family closed form (same shards, different index content)
    val out = new java.io.File(dir, s"midx2-$tag.parquet")
    if (!out.exists()) {
      val tmp = new java.io.File(dir, out.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      graft.wat.CcIndex.buildIndex(spark, warcs,
          mimeOf = mediaMime,
          statusOf = id => if (id % 11 == 3) 404 else 200)
        .repartition(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (!tmp.renameTo(out) && !out.exists())
        throw new java.io.IOException(s"could not materialize $out")
      if (tmp.exists())
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (out.getAbsolutePath, warcs)
  }

  /** The documents table framed as WET shards: one warcinfo header
    * record per shard (CC writes one; the reader must skip it), then
    * one `conversion` record per document -- target URI matching
    * [[ensureDocWarcs]]'s pages, payload the RAW document text as
    * UTF-8 (that is the WET format: the crawler's extraction, no
    * HTTP envelope). Same cache-key discipline via the shared
    * scaffold.
    */
  def ensureDocWets(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-wets",
      ".warc.wet.gz") { (out, docs) =>
      out.write(gzipMember(warcRecordBytes("warcinfo",
        "software: graft-wet-fixture\r\n".getBytes(UTF_8), None,
        "application/warc-fields")))
      for ((id, text) <- docs) {
        // the q_wet_extract oracle claims the round trip is LOSSLESS,
        // but the reader decodes via Charsets.decode -- a leading BOM
        // would be stripped and a '<meta charset=>' in the first KiB
        // would hijack detection. Fail LOUD if the corpus ever gains
        // sniff-unsafe text (the warc twin guards its own invariant
        // the same way).
        require(!text.startsWith("\uFEFF") && !text.contains('<'),
          s"doc $id text is not charset-sniff-safe to embed raw")
        out.write(gzipMember(warcRecordBytes("conversion",
          text.getBytes(UTF_8),
          Some(s"https://docs.test/doc$id.html"), "text/plain")))
      }
    }

  /** cc-index-shaped parquet over the [[ensureDocWarcs]] shards: one
    * row per response record with the PUBLIC cc-index columns (url,
    * url_host_name, content_mime_type, fetch_status, warc_filename,
    * warc_record_offset, warc_record_length), offsets/lengths read
    * back from the real gzip-member framing ([[graft.wat.CcIndex
    * .memberSpans]]), mime/status synthesized in closed form from the
    * doc id (`%13==5` → application/pdf, `%11==3` → 404 — the rows an
    * index-side filter must EXCLUDE, so the ranged-fetch query proves
    * it reads only the selected members). Cache key reuses the warc
    * shards' content-fingerprint tag: same docs + same shard count →
    * same archives → same index.
    */
  def ensureDocCcIndex(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) = {
    val warcs = ensureDocWarcs(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-ccindex-v$GenVersion")
    dir.mkdirs()
    val out = new java.io.File(dir, s"idx3-$tag.parquet")
    if (!out.exists()) {
      val tmp = new java.io.File(dir, out.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      graft.wat.CcIndex.buildIndex(spark, warcs,
          mimeOf = id =>
            if (id % 13 == 5) "application/pdf" else "text/html",
          statusOf = id => if (id % 11 == 3) 404 else 200)
        .repartition(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (!tmp.renameTo(out) && !out.exists())
        throw new java.io.IOException(s"could not materialize $out")
      if (tmp.exists())
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (out.getAbsolutePath, warcs)
  }

  /** The cc-index in the PUBLIC table's directory layout:
    * `crawl=CC-TEST-2024-01/subset=warc` carries the previous
    * snapshot (ids `%5==0` absent — they are "new" in the current
    * crawl — and `%7==0` rows carry an altered digest — "changed"
    * content), `crawl=CC-TEST-2024-02/subset=warc` the current full
    * index. Both partitions add the public `content_languages` column
    * (closed form by id%3: eng / eng,fra / deu). A cross-crawl delta
    * query must STATICALLY prune to exactly its two crawl partitions —
    * the layout exists so a spec can pin that.
    */
  def ensureDocCcIndexPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) = {
    import org.apache.spark.sql.functions._
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-ccindex-part-v$GenVersion")
    dir.mkdirs()
    val out = new java.io.File(dir, s"pidx1-$tag")
    if (!new java.io.File(out, "_SUCCESS_PART").exists()) {
      val tmp = new java.io.File(dir, out.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      val id = regexp_extract(col("url"), "doc(\\d+)\\.html$", 1)
        .cast("long")
      val base = spark.read.parquet(idxPath)
        .withColumn("content_languages",
          when(id % 3 === 0, "eng")
            .when(id % 3 === 1, "eng,fra")
            .otherwise("deu"))
      val prev = base.where(id % 5 =!= 0)
        .withColumn("content_digest",
          when(id % 7 === 0, concat(col("content_digest"), lit("-old")))
            .otherwise(col("content_digest")))
        .withColumn("crawl", lit("CC-TEST-2024-01"))
      val cur = base.withColumn("crawl", lit("CC-TEST-2024-02"))
      prev.unionByName(cur)
        .withColumn("subset", lit("warc"))
        .repartition(1)
        .write.mode("overwrite").partitionBy("crawl", "subset")
        .parquet(tmp.getAbsolutePath)
      java.nio.file.Files.write(
        new java.io.File(tmp, "_SUCCESS_PART").toPath,
        Array.emptyByteArray)
      if (!tmp.renameTo(out) &&
          !new java.io.File(out, "_SUCCESS_PART").exists())
        throw new java.io.IOException(s"could not materialize $out")
      if (tmp.exists() && !tmp.getCanonicalPath.equals(out.getCanonicalPath))
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (out.getAbsolutePath, warcs)
  }

  /** The cc-index across FOUR crawl partitions — the shape an
    * incremental consumer's "what's new since the last K crawls" query
    * runs against ([[graft.wat.CcIndex.deltaAgainstHistory]]):
    *
    *  - `crawl=CC-TEST-2024-04`: the CURRENT full index;
    *  - `crawl=CC-TEST-2024-02/03`: the history window — ids `%6==1`
    *    ABSENT from both ("new" urls) and ids `%7==0` carried with an
    *    ALTERED digest ("changed" content); everything else present in
    *    BOTH with the current digest (the recrawled-every-month rows
    *    whose K copies the history pre-aggregation collapses);
    *  - `crawl=CC-TEST-2024-01`: OUTSIDE the window — it carries ALL
    *    ids at CURRENT digests, so a query that fails to prune to the
    *    window would match the "new" ids here and silently drop them
    *    from the delta: the pruning is semantically load-bearing, not
    *    just an IO win.
    */
  def ensureDocCcIndexMultiCrawl(
      spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) = {
    import org.apache.spark.sql.functions._
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-ccindex-kpart-v$GenVersion")
    dir.mkdirs()
    val out = new java.io.File(dir, s"kidx1-$tag")
    if (!new java.io.File(out, "_SUCCESS_PART").exists()) {
      val tmp = new java.io.File(dir, out.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      val id = regexp_extract(col("url"), "doc(\\d+)\\.html$", 1)
        .cast("long")
      val base = spark.read.parquet(idxPath)
        .withColumn("content_languages",
          when(id % 3 === 0, "eng")
            .when(id % 3 === 1, "eng,fra")
            .otherwise("deu"))
      val hist = base.where(id % 6 =!= 1)
        .withColumn("content_digest",
          when(id % 7 === 0, concat(col("content_digest"), lit("-old")))
            .otherwise(col("content_digest")))
      val all = base.withColumn("crawl", lit("CC-TEST-2024-01"))
        .unionByName(hist.withColumn("crawl", lit("CC-TEST-2024-02")))
        .unionByName(hist.withColumn("crawl", lit("CC-TEST-2024-03")))
        .unionByName(base.withColumn("crawl", lit("CC-TEST-2024-04")))
      all.withColumn("subset", lit("warc"))
        .repartition(1)
        .write.mode("overwrite").partitionBy("crawl", "subset")
        .parquet(tmp.getAbsolutePath)
      java.nio.file.Files.write(
        new java.io.File(tmp, "_SUCCESS_PART").toPath,
        Array.emptyByteArray)
      if (!tmp.renameTo(out) &&
          !new java.io.File(out, "_SUCCESS_PART").exists())
        throw new java.io.IOException(s"could not materialize $out")
      if (tmp.exists() && !tmp.getCanonicalPath.equals(out.getCanonicalPath))
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (out.getAbsolutePath, warcs)
  }

  /** Second-crawl WARC shards over the SAME documents — the crawl-time
    * dedup shape real CC archives have: ids `%9==2` are captured as
    * `revisit` records (headers-only payload; `WARC-Payload-Digest`
    * names the ORIGINAL body, which lives in the crawl-1 archives),
    * everything else re-captured as a full response. The revisit digest
    * is computed from the same closed-form page bytes crawl 1 wrote, so
    * digest-keyed resolution against the crawl-1 index finds the
    * capture that holds the bytes.
    */
  def ensureDocWarcs2(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] = {
    // the full text map (lazy: only materialized when shards actually
    // regenerate) — CROSS-URL revisits ((id/9)%3==1, stepped by the
    // quotient per the fixture-modulus rule) reference the PREVIOUS
    // doc's content, whose text lives in another shard
    lazy val textOf: Map[Long, String] = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .where(org.apache.spark.sql.functions.col("doc_id").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    ensureDocShards(spark, sfDir, shards, "graft-doc-warcs2b",
      ".warc.gz") { (out, docs) =>
      for ((id, text) <- docs) {
        require(!text.contains('<') && !text.contains('&'),
          s"doc $id text is not HTML-safe to embed raw")
        val html = graft.queries.ExtQueries.bpHtmlFor(id, text)
          .getBytes(UTF_8)
        val uri = s"https://docs.test/doc$id.html"
        if (id % 9 == 2) {
          // identical-payload-digest revisit: HTTP headers only, no
          // body — the whole point is that the bytes are NOT here.
          // (id/9)%3==1 rows are CROSS-URL: the digest names the
          // PREVIOUS doc's capture (same content found at another
          // url — the attribution case resolveRevisits must get right)
          val ref =
            if ((id / 9) % 3 == 1 && textOf.contains(id - 1)) id - 1
            else id
          val refHtml =
            if (ref == id) html
            else graft.queries.ExtQueries.bpHtmlFor(ref, textOf(ref))
              .getBytes(UTF_8)
          val http = ("HTTP/1.1 200 OK\r\n" +
            "Content-Type: text/html; charset=UTF-8\r\n\r\n")
            .getBytes(UTF_8)
          val digest = graft.wat.CcIndex.sha1Base32(refHtml)
          out.write(gzipMember(warcRecordBytes("revisit", http,
            Some(uri), "application/http; msgtype=response",
            Seq("WARC-Payload-Digest" -> s"sha1:$digest"))))
        } else {
          val http = (s"HTTP/1.1 200 OK\r\n" +
            s"Content-Type: text/html; charset=UTF-8\r\n" +
            s"Content-Length: ${html.length}\r\n\r\n").getBytes(UTF_8)
          out.write(gzipMember(warcRecordBytes("response", http ++ html,
            Some(uri), "application/http; msgtype=response")))
        }
      }
    }
  }

  /** cc-index parquet over the crawl-2 shards ([[ensureDocWarcs2]]):
    * same closed-form mime/status rotation, plus `warc/revisit` rows
    * for the `%9==2` captures (digest = the original payload's, from
    * the record's WARC-Payload-Digest header — the public-index
    * convention [[graft.wat.CcIndex.buildIndex]] implements).
    */
  def ensureDocCcIndex2(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) = {
    val warcs = ensureDocWarcs2(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-ccindex2-v$GenVersion")
    dir.mkdirs()
    // idx4: bumped when cross-url revisit digests landed (same docs
    // tag, different warc content — the staleness rule)
    val out = new java.io.File(dir, s"idx4-$tag.parquet")
    if (!out.exists()) {
      val tmp = new java.io.File(dir, out.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      graft.wat.CcIndex.buildIndex(spark, warcs,
          mimeOf = id =>
            if (id % 13 == 5) "application/pdf" else "text/html",
          statusOf = id => if (id % 11 == 3) 404 else 200)
        .repartition(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
      if (!tmp.renameTo(out) && !out.exists())
        throw new java.io.IOException(s"could not materialize $out")
      if (tmp.exists())
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (out.getAbsolutePath, warcs)
  }

  /** Closed-form `content_languages` value by doc id — shared by the
    * partitioned parquet index and the CDXJ JSON `languages` field so
    * a language predicate means the same thing on both index forms.
    */
  private[wat] def docLangs(id: Long): String =
    (id % 3) match {
      case 0 => "eng"
      case 1 => "eng,fra"
      case _ => "deu"
    }

  /** CDXJ text shards over the SAME captures as [[ensureDocCcIndex]]:
    * one `.cdxj.gz` per warc shard, lines SURT-SORTED within the
    * shard (the format's seekability contract), offsets/lengths the
    * real gzip-member frames, mime/status the same closed-form
    * rotation, languages/encoding in the JSON block (the fields CC's
    * real CDXJ carries). Timestamp is a deterministic 14-digit stamp
    * from the doc id. Same cache-tag discipline.
    */
  def ensureDocCdxj(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (Seq[String], Seq[String]) = {
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-cdxj-v$GenVersion")
    dir.mkdirs()
    val missing = (0 until shards).exists(i =>
      !new java.io.File(dir, s"docs4-$tag-$i.cdxj.gz").exists())
    if (missing) {
      val rows = spark.read.parquet(idxPath).collect().map { r =>
        val url = r.getAs[String]("url")
        val id = graft.wat.CcIndex.docIdOf(url)
        val ts = f"20240101${id % 24}%02d${id % 60}%02d${(id * 7) % 60}%02d"
        (r.getAs[String]("warc_filename"),
          Cdxj.formatLine(url, ts,
            r.getAs[String]("content_mime_type"),
            r.getAs[Int]("fetch_status"),
            r.getAs[String]("content_digest"),
            r.getAs[String]("warc_filename"),
            r.getAs[Long]("warc_record_offset"),
            r.getAs[Long]("warc_record_length"),
            languages = docLangs(id), encoding = "UTF-8"))
      }.groupBy(_._1)
      for ((warcPath, i) <- warcs.zipWithIndex) {
        val f = new java.io.File(dir, s"docs4-$tag-$i.cdxj.gz")
        if (!f.exists()) {
          val tmp = new java.io.File(dir, f.getName +
            s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
          val out = new FileOutputStream(tmp)
          try {
            val gz = new GZIPOutputStream(out)
            for (line <- rows.getOrElse(warcPath, Array.empty)
                .map(_._2).sorted)
              gz.write((line + "\n").getBytes(UTF_8))
            gz.close()
          } finally out.close()
          if (!tmp.renameTo(f) && !f.exists())
            throw new java.io.IOException(s"could not materialize $f")
          tmp.delete()
        }
      }
    }
    ((0 until shards).map(i =>
      new java.io.File(dir, s"docs4-$tag-$i.cdxj.gz").getAbsolutePath),
      warcs)
  }

  /** The SAME captures as [[ensureDocCdxj]] in the LEGACY
    * space-separated CDX-11 form (` CDX N b a m s k r M S V g` header
    * + one line per capture, key-sorted) — the pre-CDXJ text format
    * the ecosystem's older archives (pywb/OpenWayback) publish. One
    * `.cdx.gz` per warc shard, same cache-tag discipline.
    */
  def ensureDocCdxLegacy(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4): (Seq[String], Seq[String]) = {
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-cdx-legacy-v$GenVersion")
    dir.mkdirs()
    val missing = (0 until shards).exists(i =>
      !new java.io.File(dir, s"docs1-$tag-$i.cdx.gz").exists())
    if (missing) {
      val rows = spark.read.parquet(idxPath).collect().map { r =>
        val url = r.getAs[String]("url")
        val id = graft.wat.CcIndex.docIdOf(url)
        val ts = f"20240101${id % 24}%02d${id % 60}%02d${(id * 7) % 60}%02d"
        (r.getAs[String]("warc_filename"),
          Cdxj.formatCdxLine(url, ts,
            r.getAs[String]("content_mime_type"),
            r.getAs[Int]("fetch_status"),
            r.getAs[String]("content_digest"),
            r.getAs[String]("warc_filename"),
            r.getAs[Long]("warc_record_offset"),
            r.getAs[Long]("warc_record_length")))
      }.groupBy(_._1)
      for ((warcPath, i) <- warcs.zipWithIndex) {
        val f = new java.io.File(dir, s"docs1-$tag-$i.cdx.gz")
        if (!f.exists()) {
          val tmp = new java.io.File(dir, f.getName +
            s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
          val out = new FileOutputStream(tmp)
          try {
            val gz = new GZIPOutputStream(out)
            gz.write(" CDX N b a m s k r M S V g\n".getBytes(UTF_8))
            for (line <- rows.getOrElse(warcPath, Array.empty)
                .map(_._2).sorted)
              gz.write((line + "\n").getBytes(UTF_8))
            gz.close()
          } finally out.close()
          if (!tmp.renameTo(f) && !f.exists())
            throw new java.io.IOException(s"could not materialize $f")
          tmp.delete()
        }
      }
    }
    ((0 until shards).map(i =>
      new java.io.File(dir, s"docs1-$tag-$i.cdx.gz").getAbsolutePath),
      warcs)
  }

  /** The CDXJ index in CC's CLUSTERED publication shape: the whole
    * line set globally SURT-sorted, split into `shards` contiguous
    * `cdx-NNNNN.gz` files, each written as independent gzip members of
    * ≤ `blockLines` lines, plus the `cluster.idx` sidecar (one line
    * per block: first key + shard + offset + compressed length) — the
    * secondary index [[graft.wat.Cdxj.lookupPrefix]] binary-searches.
    * Returns (cluster.idx path, shard dir, shard paths).
    */
  def ensureDocCdxjClustered(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, shards: Int = 4, blockLines: Int = 16)
      : (String, String, Seq[String]) = {
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val first = new java.io.File(warcs.head).getName
    val tag = first.stripPrefix("docs-").stripSuffix("-0.warc.gz")
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft-doc-cdxj-cluster-v$GenVersion")
    val root = new java.io.File(dir, s"clu2-$tag-b$blockLines")
    val clusterIdx = new java.io.File(root, "cluster.idx")
    val shardNames = (0 until shards).map(i => f"cdx-$i%05d.gz")
    if (!clusterIdx.exists()) {
      val tmp = new java.io.File(dir, root.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      tmp.mkdirs()
      val lines = spark.read.parquet(idxPath).collect().map { r =>
        val url = r.getAs[String]("url")
        val id = graft.wat.CcIndex.docIdOf(url)
        val ts = f"20240101${id % 24}%02d${id % 60}%02d${(id * 7) % 60}%02d"
        Cdxj.formatLine(url, ts,
          r.getAs[String]("content_mime_type"),
          r.getAs[Int]("fetch_status"),
          r.getAs[String]("content_digest"),
          r.getAs[String]("warc_filename"),
          r.getAs[Long]("warc_record_offset"),
          r.getAs[Long]("warc_record_length"),
          languages = docLangs(id), encoding = "UTF-8")
      }.sorted // GLOBAL surt order — shard i covers a contiguous range
      val perShard = (lines.length + shards - 1) / shards
      val idxLines = Seq.newBuilder[String]
      var seq = 0L
      for ((name, i) <- shardNames.zipWithIndex) {
        val shardLines =
          lines.slice(i * perShard, math.min((i + 1) * perShard, lines.length))
        val f = new java.io.File(tmp, name)
        val out = new FileOutputStream(f)
        try {
          var off = 0L
          for (block <- shardLines.grouped(blockLines)) {
            // one INDEPENDENT gzip member per block — the unit a
            // ranged read can decompress on its own
            val member = gzipMember(
              block.map(_ + "\n").mkString.getBytes(UTF_8))
            out.write(member)
            val key = block.head.split(' ').take(2).mkString(" ")
            idxLines += Cdxj.formatClusterLine(
              Cdxj.IdxBlock(key, name, off, member.length.toLong), seq)
            seq += 1
            off += member.length
          }
        } finally out.close()
      }
      val iw = new FileOutputStream(new java.io.File(tmp, "cluster.idx"))
      try iw.write(idxLines.result().mkString("\n").getBytes(UTF_8))
      finally iw.close()
      if (!tmp.renameTo(root) && !clusterIdx.exists())
        throw new java.io.IOException(s"could not materialize $root")
      if (tmp.exists() && !tmp.getCanonicalPath.equals(root.getCanonicalPath))
        org.apache.commons.io.FileUtils.deleteQuietly(tmp)
    }
    (clusterIdx.getAbsolutePath, root.getAbsolutePath,
      shardNames.map(n => new java.io.File(root, n).getAbsolutePath))
  }

  def ensureBenchWarcs(n: Int, nRecords: Int = 500,
      linksPerRecord: Int = 20): Seq[String] = {
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft-bench-warcs-v$GenVersion")
    dir.mkdirs()
    (0 until n).map { i =>
      val f = new java.io.File(dir,
        s"bench-$nRecords-$linksPerRecord-$i.warc.gz")
      if (!f.exists()) {
        val tmp = new java.io.File(dir, f.getName +
          s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
        syntheticWarc(tmp.getAbsolutePath, nRecords, linksPerRecord,
          seed = 1000L + i)
        if (!tmp.renameTo(f) && !f.exists())
          throw new java.io.IOException(s"could not materialize $f")
        tmp.delete()
      }
      f.getAbsolutePath
    }
  }

  /** Committed location of the fleet extraction's relational frame —
    * the bridge that brings the WAT pipeline's TAIL under the DuckDB
    * oracle gate: extraction itself is WARC-framed (not SQL-expressible
    * over the fixture tables), but dumped to parquet once, the
    * dedup+sort tail is plain SQL on both engines. Absolute so the
    * Spark read and the driver's DuckDB `read_parquet` resolve the same
    * file regardless of their working directories.
    */
  /** Repo root for committed-fixture paths: anchored here, not at the
    * JVM working directory — launched from anywhere else, a bare
    * relative path would silently ignore a committed fixture and
    * regenerate elsewhere. Precedence: explicit override (prop, then
    * env) → nearest ancestor of cwd containing build.sbt (the repo
    * marker) → cwd as the last resort.
    */
  private[graft] def repoRoot: java.io.File =
    sys.props.get("graft.repo.root")
      .orElse(sys.env.get("GRAFT_REPO_ROOT"))
      .map(new java.io.File(_))
      .orElse {
        Iterator.iterate(new java.io.File(".").getCanonicalFile)(_.getParentFile)
          .takeWhile(_ != null)
          .find(d => new java.io.File(d, "build.sbt").isFile)
      }
      .getOrElse(new java.io.File(".").getCanonicalFile)

  val TailParquetPath: String =
    new java.io.File(new java.io.File(repoRoot, "tools"), "wat_tail.parquet")
      .getAbsolutePath

  /** Committed dump of the single-archive (~400k-link) extraction —
    * the oracle table for q_wat_extract_1file, same bridge as the tail.
    */
  val SingleParquetPath: String =
    new java.io.File(new java.io.File(repoRoot, "tools"), "wat_single.parquet")
      .getAbsolutePath

  /** Committed dump of the 64-archive batched-fleet extraction — the
    * oracle table for q_wat_extract_fleet64.
    */
  val Fleet64ParquetPath: String =
    new java.io.File(new java.io.File(repoRoot, "tools"), "wat_fleet64.parquet")
      .getAbsolutePath

  /** Idempotently materialize a committed one-file dump of `df`,
    * globally sorted on the full 5-tuple so regeneration is
    * value-identical (seeded archives + total sort: a missing file
    * self-heals to the same table). Write-then-rename for crash safety.
    *
    * A REGENERATED dump is validated against the pinned golden
    * [[contentHash]] before it is served: without this, a missing file
    * under an oracle run would silently turn the q_wat_extract* DuckDB
    * hash compare into extraction-vs-itself (the dump and the query
    * share the extraction code), passing vacuously even with a broken
    * extractor. The golden md5s are independent of that code path —
    * they were pinned from the handcrafted fixture and are re-asserted
    * by WatExtractSpec every suite run.
    */
  private[wat] def ensureExtractDump(target: java.io.File,
      df: => org.apache.spark.sql.DataFrame,
      spark: org.apache.spark.sql.SparkSession,
      goldenMd5: String): String = synchronized {
    if (!target.exists()) {
      val tmp = java.nio.file.Files.createTempDirectory("wat-dump").toFile
      // finally, not success-path-only: the failure throws below would
      // otherwise leak the temp dir per failed regeneration
      try {
        val outDir = new java.io.File(tmp, "p")
        df.orderBy("uid", "cc_filename", "page_url", "url", "alt")
          .coalesce(1).write.mode("overwrite")
          .parquet(outDir.getAbsolutePath)
        val part = outDir.listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new java.io.IOException(
            s"no parquet part written under $outDir"))
        Option(target.getParentFile).foreach(_.mkdirs())
        // write-then-rename, same crash-safety story as ensureBenchWats
        val stage = new java.io.File(target.getParentFile,
          target.getName + s".tmp-${System.nanoTime()}")
        // validate the regenerated dump BEFORE publishing it: read the
        // staged file back and compare its full-content md5 to the
        // extraction-independent golden pin
        java.nio.file.Files.move(part.toPath, stage.toPath)
        val got = contentHash(
          spark.read.parquet(stage.getAbsolutePath)
            .select("uid", "url", "alt", "cc_filename", "page_url")
            .collect().toSeq.map(r => (r.getString(0), r.getString(1),
              String.valueOf(r.getString(2)), r.getString(3),
              r.getString(4))))
        if (got != goldenMd5) {
          stage.delete()
          throw new IllegalStateException(
            s"regenerated ${target.getName} fails golden validation: " +
              s"content md5 $got != pinned $goldenMd5 — refusing to " +
              "serve a self-referential oracle table")
        }
        if (!stage.renameTo(target) && !target.exists())
          throw new java.io.IOException(s"could not materialize $target")
        stage.delete()
      } finally {
        def rmr(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rmr))
          f.delete()
        }
        rmr(tmp)
      }
    }
    target.getAbsolutePath
  }

  /** image_only extraction over the deterministic 16-archive fleet. */
  def ensureTailParquet(spark: org.apache.spark.sql.SparkSession): String =
    ensureExtractDump(new java.io.File(TailParquetPath),
      WatExtract.fromPaths(spark, ensureFleet(), "image_only").toDF(),
      spark, goldenFleetContentHash("image_only"))

  /** image_only extraction over the 400k-link single archive (the
    * dump must witness the exact operator under oracle).
    */
  def ensureSingleParquet(spark: org.apache.spark.sql.SparkSession): String =
    ensureExtractDump(new java.io.File(SingleParquetPath),
      WatExtract.fromPaths(spark, ensureSingle(), "image_only").toDF(),
      spark, goldenSingleContentHash("image_only"))

  /** image_only extraction over the 64-archive fleet (batched,
    * max_tasks=16 — the q_wat_extract_fleet64 shape).
    */
  def ensureFleet64Parquet(spark: org.apache.spark.sql.SparkSession): String =
    ensureExtractDump(new java.io.File(Fleet64ParquetPath),
      WatExtract.fromPaths(spark, ensureFleet64(), "image_only",
        maxTasks = 16).toDF(),
      spark, goldenFleet64Hash)

  /** Two-era corpus shards for the schema-evolution scan: era 1 wrote
    * (uid, url), era 2 added alt + page_url — the shape a long-lived
    * output dataset actually takes as the pipeline grows columns.
    */
  val EvoShardsPath: String =
    new java.io.File(new java.io.File(repoRoot, "tools"), "evo_shards")
      .getAbsolutePath

  /** Idempotently materialize [[EvoShardsPath]]/era{1,2}: deterministic
    * halves of the committed tail parquet (split on the uid hex prefix)
    * with era-1 columns pruned. Self-healing like the tail itself.
    */
  def ensureEvoShards(spark: org.apache.spark.sql.SparkSession): String =
    synchronized {
      import org.apache.spark.sql.functions.col
      val root = new java.io.File(EvoShardsPath)
      val done = new java.io.File(root, "_EVO_OK")
      if (!done.exists()) {
        val tail = spark.read.parquet(ensureTailParquet(spark))
        tail.where(col("uid") < "8").select("uid", "url")
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(root, "era1").getAbsolutePath)
        tail.where(col("uid") >= "8")
          .select("uid", "url", "alt", "page_url")
          .coalesce(1).write.mode("overwrite")
          .parquet(new java.io.File(root, "era2").getAbsolutePath)
        java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
      }
      EvoShardsPath
    }

  // golden expectations (uids independently computed with Python hashlib)
  val CatUid = "6bb4b7d5a170364d6fe9aecdc44b6844"
  val DogUid = "c5509f4c09d168b342ee3392a9daabd0"
  val SongUid = "39b2c81b2a0c4b4f139217dc6c442695"
  val PaperUid = "2bf2dcaa13bb458c5eb0619b32dcf32e"
  val ClipUid = "de1a2056870ba9a92cc8f087143fed8e"
  val WavUid = "e882ee088cf3f3d4ff7a0ff587a1fba7"
  val PicUid = "8f2e461badb9dfa509698d1554fbe92b"

  /** (rows pre-dedup, rows post-dedup, sample uid) per document type. */
  val golden: Map[String, (Int, Int, String)] = Map(
    "image" -> ((3, 2, CatUid)),      // cat, pic, dup-cat
    "image_only" -> ((4, 3, DogUid)), // + dog
    "audio" -> ((2, 2, SongUid)),     // song, proto-relative wav; ftp dropped
    "text" -> ((1, 1, PaperUid)),     // paper; a.pdf?x=1 rejected
    "video" -> ((1, 1, ClipUid))      // clip
  )

  /** md5 over the FULL sorted extraction output (every row, every
    * column) — the strongest driver-independent correctness signal for
    * the WAT queries, which are not SQL-expressible over the fixture
    * tables and therefore sit outside the DuckDB oracle gate.
    */
  def contentHash(rows: Seq[(String, String, String, String, String)]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.sorted.foreach { case (uid, url, alt, ccFile, pageUrl) =>
      md.update(s"$uid|$url|$alt|$ccFile|$pageUrl\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Pinned [[contentHash]] per document type over the canonical
    * handcrafted fixture ([[write]]).
    */
  val goldenContentHash: Map[String, String] = Map(
    "image" -> "3b6e8db304b90e803b595cbeb0cb10e0",
    "image_only" -> "2644f33a298edb37af47b9ec7deae422",
    "audio" -> "5ec0d6208010867e18de0f852e625195",
    "text" -> "8513280eb8b65c37e129ccd79ef85fb5",
    "video" -> "57ec4e3483047742c3bdd028a68bdb85")

  /** Pinned [[contentHash]] per document type over the deterministic
    * 16-archive bench fleet ([[ensureFleet]]) — the exact input of the
    * rows-only q_wat_extract / q_wat_dedup driver queries.
    */
  val goldenFleetContentHash: Map[String, String] = Map(
    "image" -> "6568d45fa9bb74eb0b3a873749ab1c3b",
    "image_only" -> "6e573112dfd3ff42dcb71f0997fe4e9c",
    "audio" -> "822b20fb9861382c751cd4b5ec8f2e07",
    "text" -> "0b513ad1d306a8ad1ebac592f700d266",
    "video" -> "d86f87eea7f9fb3ae104f4a11d93ca98")

  /** Pinned [[contentHash]] (image_only) over the 64-archive fleet
    * ([[ensureFleet64]]) — the input of the rows-only
    * q_wat_extract_fleet64 driver query (DSv2 `max_tasks` batching).
    */
  val goldenFleet64Hash: String = "92a4085554b1fa57e8afca70b8f45408"

  /** Pinned [[contentHash]] per document type over the deterministic
    * 400k-link single-archive fixture ([[ensureSingle]]).
    */
  val goldenSingleContentHash: Map[String, String] = Map(
    "image" -> "5713e2ae7b982da1c4400b8a6f449b88",
    "image_only" -> "e2f61d6fe4355249a16daad3d9f0ecfc",
    "audio" -> "7be9e4912c920ba553194180fcbcdfde",
    "text" -> "f9bdc32ba97be20b81fd3053a62cb650",
    "video" -> "9027d235b15eeeee288dfd78732cbd27")
}
