package graft.wat

import java.io.{File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries.ExtQueries

/** Synthetic `.warc.wat.gz` fixture mirroring the envelope shape the
  * reference navigates (FIXTURES.md §B) — zero-egress replacement for the
  * reference's pinned live CC URL. One gzip member per record, like real
  * CC archives (exercises multi-member decompression).
  */
object WatFixture {

  /** A JSON-bodied record, the shape every WAT fixture record takes. */
  private def jsonRecord(warcType: String, json: String,
      targetUri: Option[String] = None): Array[Byte] =
    WarcSink.warcRecord(warcType,
      targetUri.map("WARC-Target-URI" -> _).toSeq, "application/json",
      json.getBytes(UTF_8))

  /** A fixture `response` or `revisit` record: target URI, then any
    * `extra` headers, around an HTTP message.
    */
  private def httpRecord(warcType: String, uri: String, http: Array[Byte],
      extra: (String, String)*): Array[Byte] =
    WarcSink.warcRecord(warcType, ("WARC-Target-URI" -> uri) +: extra,
      "application/http; msgtype=response", http)

  /** Write `records` to `path` as an archive, each its own gzip member
    * (multi-member decompression, like real CC archives).
    */
  private def writeArchive(path: String,
      records: Iterator[Array[Byte]]): String = {
    val out = new FileOutputStream(path)
    try records.foreach(r => out.write(WarcSink.gzipMember(r)))
    finally out.close()
    path
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
    jsonRecord("warcinfo", """{"software": "graft-fixture"}"""),
    // r1: full record with Head.Base and every link kind
    jsonRecord("metadata", envelope("https://example.com/page/1",
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
    jsonRecord("metadata",
      """{"Container": {"Filename": "f"}, "Envelope": {"Payload-Metadata": {}}}"""),
    jsonRecord("metadata",
      """{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": {}}}}"""),
    jsonRecord("metadata",
      """{"Envelope": {"Payload-Metadata": {"HTTP-Response-Metadata": {"HTML-Metadata": {}}}}}"""),
    // r5: malformed JSON — per-record tolerance (main.py:139-142)
    jsonRecord("metadata", """{"Envelope": {"broken..."""),
    // r6: no Head.Base → base = WARC-Target-URI (main.py:159)
    jsonRecord("metadata", envelope("https://nobase.example.com/dir/page.html",
      None, Seq(("IMG@/src", "pic.png", "pic", ""))),
      Some("https://nobase.example.com/dir/page.html")),
    // r7: duplicate (alt, url) of r1's cat (already absolute) → dedup food
    jsonRecord("metadata", envelope("https://example.com/page/7",
      None, Seq(("IMG@/src", "https://example.com/base/img/cat.jpg", "a cat", ""))),
      Some("https://example.com/page/7")),
    // r8: text link with query string — split-on-dot rejects (main.py:56-62)
    jsonRecord("metadata", envelope("https://example.com/page/8",
      None, Seq(("A@/href", "a.pdf?x=1", "", "qs doc"))),
      Some("https://example.com/page/8"))
  )

  /** Write the fixture as a multi-member gzip WARC; returns the path. */
  def write(path: String): String = writeArchive(path, records.iterator)

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
    writeArchive(path, (0 until nRecords).iterator.map { r =>
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
      jsonRecord("metadata", envelope(page, base, links, respEx, htmlEx),
        Some(page))
    })
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
    writeArchive(path, Iterator.single(jsonRecord("warcinfo",
      """{"software": "graft-fixture-warc"}""")) ++
      (0 until nRecords).iterator.map { r =>
        val (page, base, links) = syntheticPageLinks(rnd, r, linksPerRecord)
        httpRecord("response", page, WarcSink.httpResponse(200,
          HtmlType, Some(pageHtml(r, base, links).getBytes(UTF_8))))
      })
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

  /** The fixture cache's one publish step: unless `done` exists, build
    * `target` under a unique temp name beside it, rename it into
    * place, and accept a concurrent winner's copy. A process killed
    * mid-generation leaves no truncated target for a later run to
    * silently reuse, and the temp never outlives the call.
    */
  private def cached(target: File, done: File)(build: File => Unit)
      : String = {
    if (!done.exists()) {
      val tmp = new File(target.getParentFile, target.getName +
        s".tmp-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}-${System.nanoTime()}")
      try {
        build(tmp)
        if (!tmp.renameTo(target) && !done.exists())
          throw new java.io.IOException(s"could not materialize $target")
      } finally FileUtils.deleteQuietly(tmp)
    }
    target.getAbsolutePath
  }

  /** The cache dir `$name-v$GenVersion` under the JVM's tmpdir. */
  private def cacheDir(name: String): File = {
    val dir = new File(System.getProperty("java.io.tmpdir"),
      s"$name-v$GenVersion")
    dir.mkdirs()
    dir
  }

  /** The content tag of a documents-table shard set
    * ([[ensureDocShards]]), read back from its first shard's name.
    */
  private def docTag(warcs: Seq[String]): String =
    new File(warcs.head).getName.stripPrefix("docs-")
      .stripSuffix("-0.warc.gz")

  private val HtmlType = "text/html; charset=UTF-8"
  private val OctetType = "application/octet-stream"

  /** Idempotently materialize `n` deterministic bench WATs in tmp.
    * `bloatUnits` variants (same seeds → same link stream, fatter
    * envelopes) cache under distinct names.
    */
  def ensureBenchWats(n: Int, nRecords: Int = 500,
      linksPerRecord: Int = 20, bloatUnits: Int = 0): Seq[String] = {
    val dir = cacheDir("graft-bench-wats")
    val tag = if (bloatUnits > 0) s"-b$bloatUnits" else ""
    (0 until n).map { i =>
      val f = new File(dir, s"bench-$nRecords-$linksPerRecord-$i$tag.warc.wat.gz")
      cached(f, f)(tmp => syntheticWat(tmp.getAbsolutePath, nRecords,
        linksPerRecord, seed = 1000L + i, bloatUnits = bloatUnits))
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
    * membership differs) -- and write each missing shard's `records`
    * through [[cached]].
    */
  private def ensureDocShards(spark: SparkSession,
      sfDir: String, shards: Int, dirName: String, suffix: String)(
      records: Seq[(Long, String)] => Iterator[Array[Byte]])
      : Seq[String] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id").isNotNull)
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val dir = cacheDir(dirName)
    val md = java.security.MessageDigest.getInstance("MD5")
    docs.foreach { case (id, text) =>
      md.update(s"$id:$text\u0000".getBytes(UTF_8))
    }
    val fp = md.digest().take(6).map("%02x".format(_)).mkString
    val tag = sfDir.replaceAll("[^a-zA-Z0-9.]", "_") +
      s"-${docs.length}-$fp-s$shards"
    (0 until shards).map { i =>
      val f = new File(dir, s"docs-$tag-$i$suffix")
      cached(f, f)(tmp => writeArchive(tmp.getAbsolutePath,
        records(docs.filter(_._1 % shards == i).toSeq)))
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
  def ensureDocWarcs(spark: SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-warcs", ".warc.gz") {
      _.iterator.map { case (id, text) =>
        require(!text.contains('<') && !text.contains('&'),
          s"doc $id text is not HTML-safe to embed raw")
        httpRecord("response", s"https://docs.test/doc$id.html",
          WarcSink.httpResponse(200, HtmlType,
            Some(ExtQueries.bpHtmlFor(id, text).getBytes(UTF_8))))
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
  def ensureDocMediaWarcs(spark: SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-media-warcs-m1",
      ".warc.gz") {
      _.iterator.map { case (id, _) =>
        httpRecord("response", s"https://docs.test/doc$id.bin",
          WarcSink.httpResponse(200, OctetType,
            Some(graft.ext.Multimodal.mixedBlobFor(id))))
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
  def ensureDocMediaWarcs2(spark: SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-media-warcs2-m1",
      ".warc.gz") {
      _.iterator.map { case (id, _) =>
        val blob = graft.ext.Multimodal.mixedBlobFor(id)
        val uri = s"https://docs.test/doc$id.bin"
        if (id % 9 == 2)
          httpRecord("revisit", uri,
            WarcSink.httpResponse(200, OctetType, None),
            "WARC-Payload-Digest" -> s"sha1:${CcIndex.sha1Base32(blob)}")
        else
          httpRecord("response", uri,
            WarcSink.httpResponse(200, OctetType, Some(blob)))
      }
    }

  /** cc-index parquet over a documents-table shard set: one row per
    * response (and revisit) record, read back from the real gzip-member
    * framing by [[CcIndex.buildIndex]], mime by `mimeOf`, and the
    * usual `%11==3` → 404 rotation (the rows an index-side filter must
    * EXCLUDE). Cached as `$name-<tag>.parquet`: bump `name` when the
    * index content changes over the same shards (the staleness rule).
    */
  private def ensureDocIndexParquet(spark: SparkSession,
      warcs: Seq[String], dirName: String, name: String,
      mimeOf: Long => String): (String, Seq[String]) = {
    val out = new File(cacheDir(dirName), s"$name-${docTag(warcs)}.parquet")
    (cached(out, out) { tmp =>
      CcIndex.buildIndex(spark, warcs, mimeOf = mimeOf,
          statusOf = id => if (id % 11 == 3) 404 else 200)
        .repartition(1)
        .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    }, warcs)
  }

  /** The HTML corpus's closed-form mime: `%13==5` → application/pdf. */
  private def docMime(id: Long): String =
    if (id % 13 == 5) "application/pdf" else "text/html"

  /** cc-index parquet over the crawl-2 media shards
    * ([[ensureDocMediaWarcs2]]): per-family mimes for the re-captured
    * responses, `warc/revisit` rows (digest = the original blob's)
    * for the `%9==2` captures, the usual `%11==3` → 404 rotation.
    */
  def ensureDocMediaCcIndex2(spark: SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) =
    ensureDocIndexParquet(spark, ensureDocMediaWarcs2(spark, sfDir, shards),
      "graft-doc-media-ccindex2", "midx1", mediaMime)

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
  def ensureDocMediaCcIndex(spark: SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) =
    // midx2: bumped when the octet-stream mime column became the
    // per-family closed form (same shards, different index content)
    ensureDocIndexParquet(spark, ensureDocMediaWarcs(spark, sfDir, shards),
      "graft-doc-media-ccindex", "midx2", mediaMime)

  /** The documents table framed as WET shards: one warcinfo header
    * record per shard (CC writes one; the reader must skip it), then
    * one `conversion` record per document -- target URI matching
    * [[ensureDocWarcs]]'s pages, payload the RAW document text as
    * UTF-8 (that is the WET format: the crawler's extraction, no
    * HTTP envelope). Same cache-key discipline via the shared
    * scaffold.
    */
  def ensureDocWets(spark: SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] =
    ensureDocShards(spark, sfDir, shards, "graft-doc-wets",
      ".warc.wet.gz") { docs =>
      Iterator.single(WarcSink.warcRecord("warcinfo", Nil,
        "application/warc-fields",
        "software: graft-wet-fixture\r\n".getBytes(UTF_8))) ++
        docs.iterator.map { case (id, text) =>
          // the q_wet_extract oracle claims the round trip is LOSSLESS,
          // but the reader decodes via Charsets.decode -- a leading BOM
          // would be stripped and a '<meta charset=>' in the first KiB
          // would hijack detection. Fail LOUD if the corpus ever gains
          // sniff-unsafe text (the warc twin guards its own invariant
          // the same way).
          require(!text.startsWith("\uFEFF") && !text.contains('<'),
            s"doc $id text is not charset-sniff-safe to embed raw")
          WarcSink.warcRecord("conversion",
            Seq("WARC-Target-URI" -> s"https://docs.test/doc$id.html"),
            "text/plain", text.getBytes(UTF_8))
        }
    }

  /** cc-index-shaped parquet over the [[ensureDocWarcs]] shards: one
    * row per response record with the PUBLIC cc-index columns (url,
    * url_host_name, content_mime_type, fetch_status, warc_filename,
    * warc_record_offset, warc_record_length), offsets/lengths read
    * back from the real gzip-member framing ([[CcIndex
    * .memberSpans]]), mime/status synthesized in closed form from the
    * doc id (`%13==5` → application/pdf, `%11==3` → 404 — the rows an
    * index-side filter must EXCLUDE, so the ranged-fetch query proves
    * it reads only the selected members). Cache key reuses the warc
    * shards' content-fingerprint tag: same docs + same shard count →
    * same archives → same index.
    */
  def ensureDocCcIndex(spark: SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) =
    ensureDocIndexParquet(spark, ensureDocWarcs(spark, sfDir, shards),
      "graft-doc-ccindex", "idx3", docMime)

  /** [[ensureDocCcIndex]] written as crawl partitions
    * (`crawl=…/subset=warc`, a `_SUCCESS_PART` marker once complete):
    * `crawls` gets the index with the public `content_languages`
    * column (closed form by id%3: eng / eng,fra / deu), the same index
    * with ids `%7==0` carrying an altered digest ("changed" content),
    * and the doc id column, and returns the rows with their `crawl`.
    */
  private def ensureDocCcIndexCrawls(spark: SparkSession, sfDir: String,
      shards: Int, dirName: String, name: String)(
      crawls: (DataFrame, DataFrame, Column) => DataFrame)
      : (String, Seq[String]) = {
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val out = new File(cacheDir(dirName), s"$name-${docTag(warcs)}")
    (cached(out, new File(out, "_SUCCESS_PART")) { tmp =>
      val id = regexp_extract(col("url"), "doc(\\d+)\\.html$", 1)
        .cast("long")
      val base = spark.read.parquet(idxPath)
        .withColumn("content_languages",
          when(id % 3 === 0, "eng")
            .when(id % 3 === 1, "eng,fra")
            .otherwise("deu"))
      val changed = base.withColumn("content_digest",
        when(id % 7 === 0, concat(col("content_digest"), lit("-old")))
          .otherwise(col("content_digest")))
      crawls(base, changed, id)
        .withColumn("subset", lit("warc"))
        .repartition(1)
        .write.mode("overwrite").partitionBy("crawl", "subset")
        .parquet(tmp.getAbsolutePath)
      java.nio.file.Files.write(new File(tmp, "_SUCCESS_PART").toPath,
        Array.emptyByteArray)
    }, warcs)
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
  def ensureDocCcIndexPartitioned(spark: SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) =
    ensureDocCcIndexCrawls(spark, sfDir, shards, "graft-doc-ccindex-part",
      "pidx1") { (base, changed, id) =>
      changed.where(id % 5 =!= 0).withColumn("crawl", lit("CC-TEST-2024-01"))
        .unionByName(base.withColumn("crawl", lit("CC-TEST-2024-02")))
    }

  /** The cc-index across FOUR crawl partitions — the shape an
    * incremental consumer's "what's new since the last K crawls" query
    * runs against ([[CcIndex.deltaAgainstHistory]]):
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
  def ensureDocCcIndexMultiCrawl(spark: SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) =
    ensureDocCcIndexCrawls(spark, sfDir, shards,
      "graft-doc-ccindex-kpart", "kidx1") { (base, changed, id) =>
      val hist = changed.where(id % 6 =!= 1)
      base.withColumn("crawl", lit("CC-TEST-2024-01"))
        .unionByName(hist.withColumn("crawl", lit("CC-TEST-2024-02")))
        .unionByName(hist.withColumn("crawl", lit("CC-TEST-2024-03")))
        .unionByName(base.withColumn("crawl", lit("CC-TEST-2024-04")))
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
  def ensureDocWarcs2(spark: SparkSession,
      sfDir: String, shards: Int = 4): Seq[String] = {
    // the full text map (lazy: only materialized when shards actually
    // regenerate) — CROSS-URL revisits ((id/9)%3==1, stepped by the
    // quotient per the fixture-modulus rule) reference the PREVIOUS
    // doc's content, whose text lives in another shard
    lazy val textOf: Map[Long, String] = spark.read
      .parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id").isNotNull)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    ensureDocShards(spark, sfDir, shards, "graft-doc-warcs2b",
      ".warc.gz") {
      _.iterator.map { case (id, text) =>
        require(!text.contains('<') && !text.contains('&'),
          s"doc $id text is not HTML-safe to embed raw")
        val html = ExtQueries.bpHtmlFor(id, text).getBytes(UTF_8)
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
            else ExtQueries.bpHtmlFor(ref, textOf(ref)).getBytes(UTF_8)
          httpRecord("revisit", uri,
            WarcSink.httpResponse(200, HtmlType, None),
            "WARC-Payload-Digest" -> s"sha1:${CcIndex.sha1Base32(refHtml)}")
        } else
          httpRecord("response", uri,
            WarcSink.httpResponse(200, HtmlType, Some(html)))
      }
    }
  }

  /** cc-index parquet over the crawl-2 shards ([[ensureDocWarcs2]]):
    * same closed-form mime/status rotation, plus `warc/revisit` rows
    * for the `%9==2` captures (digest = the original payload's, from
    * the record's WARC-Payload-Digest header — the public-index
    * convention [[CcIndex.buildIndex]] implements).
    */
  def ensureDocCcIndex2(spark: SparkSession,
      sfDir: String, shards: Int = 4): (String, Seq[String]) =
    // idx4: bumped when cross-url revisit digests landed (same docs
    // tag, different warc content — the staleness rule)
    ensureDocIndexParquet(spark, ensureDocWarcs2(spark, sfDir, shards),
      "graft-doc-ccindex2", "idx4", docMime)

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

  /** A doc's deterministic 14-digit capture timestamp. */
  private def docTimestamp(id: Long): String =
    f"20240101${id % 24}%02d${id % 60}%02d${(id * 7) % 60}%02d"

  /** The CDXJ line of one [[ensureDocCcIndex]] row: its locator, the
    * doc's timestamp, and languages/encoding in the JSON block (the
    * fields CC's real CDXJ carries).
    */
  private def docCdxjLine(r: Row): String = {
    val url = r.getAs[String]("url")
    val id = CcIndex.docIdOf(url)
    Cdxj.formatLine(url, docTimestamp(id),
      r.getAs[String]("content_mime_type"),
      r.getAs[Int]("fetch_status"),
      r.getAs[String]("content_digest"),
      r.getAs[String]("warc_filename"),
      r.getAs[Long]("warc_record_offset"),
      r.getAs[Long]("warc_record_length"),
      languages = docLangs(id), encoding = "UTF-8")
  }

  /** A text index over the SAME captures as [[ensureDocCcIndex]]: one
    * gzip file per warc shard, `header` then one `line` per capture in
    * the shard, lines sorted (the format's seekability contract), each
    * file cached as `$name-<tag>-<i>$suffix`.
    */
  private def ensureDocIndexText(spark: SparkSession, sfDir: String,
      shards: Int, dirName: String, name: String, suffix: String,
      header: String)(line: Row => String): (Seq[String], Seq[String]) = {
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val dir = cacheDir(dirName)
    val files = (0 until shards).map(i =>
      new File(dir, s"$name-${docTag(warcs)}-$i$suffix"))
    if (files.exists(!_.exists())) {
      val rows = spark.read.parquet(idxPath).collect()
        .map(r => (r.getAs[String]("warc_filename"), line(r)))
        .groupBy(_._1)
      for ((warcPath, f) <- warcs.zip(files)) cached(f, f) { tmp =>
        val text = header + rows.getOrElse(warcPath, Array.empty)
          .map(_._2).sorted.map(_ + "\n").mkString
        java.nio.file.Files.write(tmp.toPath,
          WarcSink.gzipMember(text.getBytes(UTF_8)))
      }
    }
    (files.map(_.getAbsolutePath), warcs)
  }

  /** CDXJ text shards over the SAME captures as [[ensureDocCcIndex]]:
    * one `.cdxj.gz` per warc shard, lines SURT-SORTED within the
    * shard (the format's seekability contract), offsets/lengths the
    * real gzip-member frames, mime/status the same closed-form
    * rotation, languages/encoding in the JSON block (the fields CC's
    * real CDXJ carries). Timestamp is a deterministic 14-digit stamp
    * from the doc id. Same cache-tag discipline.
    */
  def ensureDocCdxj(spark: SparkSession,
      sfDir: String, shards: Int = 4): (Seq[String], Seq[String]) =
    ensureDocIndexText(spark, sfDir, shards, "graft-doc-cdxj", "docs4",
      ".cdxj.gz", header = "")(docCdxjLine)

  /** The SAME captures as [[ensureDocCdxj]] in the LEGACY
    * space-separated CDX-11 form (` CDX N b a m s k r M S V g` header
    * + one line per capture, key-sorted) — the pre-CDXJ text format
    * the ecosystem's older archives (pywb/OpenWayback) publish. One
    * `.cdx.gz` per warc shard, same cache-tag discipline.
    */
  def ensureDocCdxLegacy(spark: SparkSession,
      sfDir: String, shards: Int = 4): (Seq[String], Seq[String]) =
    ensureDocIndexText(spark, sfDir, shards, "graft-doc-cdx-legacy",
      "docs1", ".cdx.gz", header = " CDX N b a m s k r M S V g\n") { r =>
      val url = r.getAs[String]("url")
      Cdxj.formatCdxLine(url, docTimestamp(CcIndex.docIdOf(url)),
        r.getAs[String]("content_mime_type"),
        r.getAs[Int]("fetch_status"),
        r.getAs[String]("content_digest"),
        r.getAs[String]("warc_filename"),
        r.getAs[Long]("warc_record_offset"),
        r.getAs[Long]("warc_record_length"))
    }

  /** The CDXJ index in CC's CLUSTERED publication shape: the whole
    * line set globally SURT-sorted, split into `shards` contiguous
    * `cdx-NNNNN.gz` files, each written as independent gzip members of
    * ≤ `blockLines` lines, plus the `cluster.idx` sidecar (one line
    * per block: first key + shard + offset + compressed length) — the
    * secondary index [[Cdxj.lookupPrefix]] binary-searches.
    * Returns (cluster.idx path, shard dir, shard paths).
    */
  def ensureDocCdxjClustered(spark: SparkSession,
      sfDir: String, shards: Int = 4, blockLines: Int = 16)
      : (String, String, Seq[String]) = {
    val (idxPath, warcs) = ensureDocCcIndex(spark, sfDir, shards)
    val root = new File(cacheDir("graft-doc-cdxj-cluster"),
      s"clu2-${docTag(warcs)}-b$blockLines")
    val clusterIdx = new File(root, "cluster.idx")
    val shardNames = (0 until shards).map(i => f"cdx-$i%05d.gz")
    cached(root, clusterIdx) { tmp =>
      tmp.mkdirs()
      // GLOBAL surt order — shard i covers a contiguous range
      val lines = spark.read.parquet(idxPath).collect().map(docCdxjLine)
        .sorted
      val perShard = (lines.length + shards - 1) / shards
      val idxLines = Seq.newBuilder[String]
      var seq = 0L
      for ((name, i) <- shardNames.zipWithIndex) {
        val shardLines =
          lines.slice(i * perShard, math.min((i + 1) * perShard, lines.length))
        val out = new FileOutputStream(new File(tmp, name))
        try {
          var off = 0L
          for (block <- shardLines.grouped(blockLines)) {
            // one INDEPENDENT gzip member per block — the unit a
            // ranged read can decompress on its own
            val member = WarcSink.gzipMember(
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
      java.nio.file.Files.write(new File(tmp, "cluster.idx").toPath,
        idxLines.result().mkString("\n").getBytes(UTF_8))
    }
    (clusterIdx.getAbsolutePath, root.getAbsolutePath,
      shardNames.map(n => new File(root, n).getAbsolutePath))
  }

  def ensureBenchWarcs(n: Int, nRecords: Int = 500,
      linksPerRecord: Int = 20): Seq[String] = {
    val dir = cacheDir("graft-bench-warcs")
    (0 until n).map { i =>
      val f = new File(dir, s"bench-$nRecords-$linksPerRecord-$i.warc.gz")
      cached(f, f)(tmp => syntheticWarc(tmp.getAbsolutePath, nRecords,
        linksPerRecord, seed = 1000L + i))
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
  private[graft] def repoRoot: File =
    sys.props.get("graft.repo.root")
      .orElse(sys.env.get("GRAFT_REPO_ROOT"))
      .map(new File(_))
      .orElse {
        Iterator.iterate(new File(".").getCanonicalFile)(_.getParentFile)
          .takeWhile(_ != null)
          .find(d => new File(d, "build.sbt").isFile)
      }
      .getOrElse(new File(".").getCanonicalFile)

  val TailParquetPath: String =
    new File(new File(repoRoot, "tools"), "wat_tail.parquet")
      .getAbsolutePath

  /** Committed dump of the single-archive (~400k-link) extraction —
    * the oracle table for q_wat_extract_1file, same bridge as the tail.
    */
  val SingleParquetPath: String =
    new File(new File(repoRoot, "tools"), "wat_single.parquet")
      .getAbsolutePath

  /** Committed dump of the 64-archive batched-fleet extraction — the
    * oracle table for q_wat_extract_fleet64.
    */
  val Fleet64ParquetPath: String =
    new File(new File(repoRoot, "tools"), "wat_fleet64.parquet")
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
  private[wat] def ensureExtractDump(target: File, df: => DataFrame,
      spark: SparkSession, goldenMd5: String): String = synchronized {
    cached(target, target) { stage =>
      val tmp = java.nio.file.Files.createTempDirectory("wat-dump").toFile
      // finally, not success-path-only: the failure throws below would
      // otherwise leak the temp dir per failed regeneration
      try {
        val outDir = new File(tmp, "p")
        df.orderBy("uid", "cc_filename", "page_url", "url", "alt")
          .coalesce(1).write.mode("overwrite")
          .parquet(outDir.getAbsolutePath)
        val part = outDir.listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(throw new java.io.IOException(
            s"no parquet part written under $outDir"))
        Option(target.getParentFile).foreach(_.mkdirs())
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
        if (got != goldenMd5)
          throw new IllegalStateException(
            s"regenerated ${target.getName} fails golden validation: " +
              s"content md5 $got != pinned $goldenMd5 — refusing to " +
              "serve a self-referential oracle table")
      } finally FileUtils.deleteQuietly(tmp)
    }
  }

  /** image_only extraction over the deterministic 16-archive fleet. */
  def ensureTailParquet(spark: SparkSession): String =
    ensureExtractDump(new File(TailParquetPath),
      WatExtract.fromPaths(spark, ensureFleet(), "image_only").toDF(),
      spark, goldenFleetContentHash("image_only"))

  /** image_only extraction over the 400k-link single archive (the
    * dump must witness the exact operator under oracle).
    */
  def ensureSingleParquet(spark: SparkSession): String =
    ensureExtractDump(new File(SingleParquetPath),
      WatExtract.fromPaths(spark, ensureSingle(), "image_only").toDF(),
      spark, goldenSingleContentHash("image_only"))

  /** image_only extraction over the 64-archive fleet (batched,
    * max_tasks=16 — the q_wat_extract_fleet64 shape).
    */
  def ensureFleet64Parquet(spark: SparkSession): String =
    ensureExtractDump(new File(Fleet64ParquetPath),
      WatExtract.fromPaths(spark, ensureFleet64(), "image_only",
        maxTasks = 16).toDF(),
      spark, goldenFleet64Hash)

  /** Two-era corpus shards for the schema-evolution scan: era 1 wrote
    * (uid, url), era 2 added alt + page_url — the shape a long-lived
    * output dataset actually takes as the pipeline grows columns.
    */
  val EvoShardsPath: String =
    new File(new File(repoRoot, "tools"), "evo_shards")
      .getAbsolutePath

  /** Idempotently materialize [[EvoShardsPath]]/era{1,2}: deterministic
    * halves of the committed tail parquet (split on the uid hex prefix)
    * with era-1 columns pruned. Self-healing like the tail itself.
    */
  def ensureEvoShards(spark: SparkSession): String =
    synchronized {
      val root = new File(EvoShardsPath)
      val done = new File(root, "_EVO_OK")
      if (!done.exists()) {
        val tail = spark.read.parquet(ensureTailParquet(spark))
        tail.where(col("uid") < "8").select("uid", "url")
          .coalesce(1).write.mode("overwrite")
          .parquet(new File(root, "era1").getAbsolutePath)
        tail.where(col("uid") >= "8")
          .select("uid", "url", "alt", "page_url")
          .coalesce(1).write.mode("overwrite")
          .parquet(new File(root, "era2").getAbsolutePath)
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
