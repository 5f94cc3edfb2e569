package graft.wat

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.DocLink

/** Raw-WARC HTML link extraction — the fallback source when a crawl's
  * WAT sidecars are missing or stale.
  *
  * The reference only ever reads WAT's PRE-EXTRACTED `Links` array
  * (cc2dataset/main.py:144-155); real pipelines also need the raw-WARC
  * path: scan `response` records, strip the HTTP header block, and
  * recover the same {path, url, alt, text} link rows from the HTML
  * itself (IMG src/alt, A href/anchor-text, head `<base href>`). The
  * output feeds the SAME relational tail as WAT extraction
  * ([[WatExtract.extractLinks]]: type predicate → absolutize → scheme
  * filter → uid), so the two sources are interchangeable downstream —
  * and provably so: the q_warc_extract oracle hash-matches WARC-HTML
  * extraction against the committed WAT extraction of the same
  * synthetic pages.
  *
  * The scanner is a single-pass imperative tag walk (the per-record
  * imperative hop, same layer as the WARC frame split), not a DOM: at
  * crawl scale the HTML is hostile and huge, so it never allocates
  * from document-controlled counts, skips script/style/comment spans,
  * and fails closed per record.
  */
object WarcHtml {

  /** One extracted link in WAT's own vocabulary: `path` is the WAT
    * path token ("IMG@/src" / "A@/href"); absent alt/text are null,
    * exactly as PERMISSIVE from_json renders WAT's omitted keys.
    */
  final case class Link(url: String, text: String, alt: String, path: String)

  /** One page's link frame row — matches [[WatExtract.extractLinks]]'s
    * expected columns.
    */
  final case class PageLinks(cc_filename: String, page_url: String,
      head_base: String, links: Seq[Link])

  // ------------------------------------------------------------------
  // HTML scanning (pure, per record)
  // ------------------------------------------------------------------

  // the Basic table (NOT WithNbsp): attr/alt text must match the WAT
  // sidecar byte-for-byte, which does not decode nbsp
  private def unescape(s: String): String =
    graft.ext.HtmlEntities.unescape(s, graft.ext.HtmlEntities.Basic)

  /** Case-insensitive indexOf. */
  private def ciIndexOf(s: String, target: String, from: Int): Int = {
    var i = math.max(0, from)
    val lim = s.length - target.length
    while (i <= lim) {
      if (s.regionMatches(true, i, target, 0, target.length)) return i
      i += 1
    }
    -1
  }

  /** Parse the tag starting at `lt` ('<'): (lowercased name or "" for
    * closing/declaration/malformed tags, attrs, index just past '>').
    * Attribute values respect single/double quotes; unquoted values end
    * at whitespace or '>'.
    */
  private def parseTag(html: String, lt: Int): (String, Map[String, String], Int) = {
    val n = html.length
    var i = lt + 1
    if (i < n && (html.charAt(i) == '/' || html.charAt(i) == '!' ||
      html.charAt(i) == '?')) {
      // closing tag / declaration / PI: skip to '>'
      val gt = html.indexOf('>', i)
      return ("", Map.empty, if (gt < 0) n else gt + 1)
    }
    val nameStart = i
    while (i < n && (html.charAt(i).isLetterOrDigit)) i += 1
    if (i == nameStart) return ("", Map.empty, lt + 1) // stray '<'
    // Locale.ROOT: default-locale lowercasing turns "IMG" into "\u0131mg"
    // under a Turkish JVM locale and every tag dispatch silently misses
    val name = html.substring(nameStart, i)
      .toLowerCase(java.util.Locale.ROOT)
    var attrs = Map.empty[String, String]
    var done = false
    while (!done && i < n) {
      val c = html.charAt(i)
      if (c == '>') { i += 1; done = true }
      else if (c.isWhitespace || c == '/') i += 1
      else {
        // attribute name
        val as = i
        while (i < n && !html.charAt(i).isWhitespace &&
          html.charAt(i) != '=' && html.charAt(i) != '>' &&
          html.charAt(i) != '/') i += 1
        val aname = html.substring(as, i)
          .toLowerCase(java.util.Locale.ROOT)
        while (i < n && html.charAt(i).isWhitespace) i += 1
        if (i < n && html.charAt(i) == '=') {
          i += 1
          while (i < n && html.charAt(i).isWhitespace) i += 1
          if (i < n && (html.charAt(i) == '"' || html.charAt(i) == '\'')) {
            val q = html.charAt(i)
            val vs = i + 1
            val ve = html.indexOf(q, vs)
            if (ve < 0) { // unterminated quote: malformed, stop the tag
              return (name, attrs, n)
            }
            if (aname.nonEmpty && !attrs.contains(aname))
              attrs += aname -> unescape(html.substring(vs, ve))
            i = ve + 1
          } else {
            val vs = i
            while (i < n && !html.charAt(i).isWhitespace &&
              html.charAt(i) != '>') i += 1
            if (aname.nonEmpty && !attrs.contains(aname))
              attrs += aname -> unescape(html.substring(vs, i))
          }
        } else if (aname.nonEmpty && !attrs.contains(aname)) {
          attrs += aname -> "" // bare attribute
        }
      }
    }
    (name, attrs, i)
  }

  /** Inner HTML → visible anchor text: tags stripped, entities
    * unescaped, whitespace collapsed, trimmed. Deliberately unbounded:
    * `inner` is a substring of a document already in memory, and a
    * silent cap would make the text (and thus uid, for the doc types
    * whose alt is the anchor text) diverge from the WAT path's
    * pre-extracted Links on long anchors.
    */
  private def anchorText(inner: String): String = {
    val sb = new StringBuilder(inner.length)
    var i = 0
    var inTag = false
    while (i < inner.length) {
      val c = inner.charAt(i)
      if (c == '<') inTag = true
      else if (c == '>') inTag = false
      else if (!inTag) sb.append(c)
      i += 1
    }
    unescape(sb.toString).split("\\s+").filter(_.nonEmpty).mkString(" ")
  }

  /** Index of the CLOSING tag `</name` whose name ends there (followed
    * by '>', whitespace, or end of input) — a bare prefix search for
    * "</a" would also match </abbr>/</article>/</aside> and truncate
    * anchor text at the wrong tag.
    */
  private def closingTagIndex(html: String, name: String, from: Int): Int = {
    val target = "</" + name
    var i = from
    while (i >= 0) {
      i = ciIndexOf(html, target, i)
      if (i >= 0) {
        val after = i + target.length
        if (after >= html.length || html.charAt(after) == '>' ||
          html.charAt(after).isWhitespace) return i
        i += 1
      }
    }
    -1
  }

  /** Scan one HTML document: (head base href if any, links in document
    * order). Script/style/comment spans are skipped; anchors capture
    * their visible text but the scan RE-ENTERS the anchor body (an img
    * nested in a link must still be found). Never throws on hostile
    * input — any scan failure yields what was collected so far.
    */
  def scanHtml(html: String): (Option[String], Vector[Link]) = {
    val out = Vector.newBuilder[Link]
    var headBase: Option[String] = None
    try {
      val n = html.length
      var i = 0
      while (i < n) {
        val lt = html.indexOf('<', i)
        if (lt < 0) i = n
        else if (html.startsWith("<!--", lt)) {
          val end = html.indexOf("-->", lt + 4)
          i = if (end < 0) n else end + 3
        } else {
          val (name, attrs, tagEnd) = parseTag(html, lt)
          name match {
            case "" => i = tagEnd
            case "base" =>
              if (headBase.isEmpty)
                headBase = attrs.get("href").filter(_.nonEmpty)
              i = tagEnd
            case "img" =>
              attrs.get("src").filter(_.nonEmpty).foreach { src =>
                out += Link(src, null,
                  attrs.get("alt").filter(_.nonEmpty).orNull, "IMG@/src")
              }
              i = tagEnd
            case "a" =>
              attrs.get("href").filter(_.nonEmpty).foreach { href =>
                val close = closingTagIndex(html, "a", tagEnd)
                val text =
                  if (close < 0) ""
                  else anchorText(html.substring(tagEnd, close))
                out += Link(href, if (text.isEmpty) null else text,
                  null, "A@/href")
              }
              i = tagEnd // re-enter the body: nested tags still scan
            case "script" | "style" =>
              val close = closingTagIndex(html, name, tagEnd)
              i = if (close < 0) n else {
                val gt = html.indexOf('>', close)
                if (gt < 0) n else gt + 1
              }
            case _ => i = tagEnd
          }
        }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
    (headBase, out.result())
  }

  // ------------------------------------------------------------------
  // WARC response plumbing
  // ------------------------------------------------------------------

  /** Parsed response head: where the body starts and which codings
    * must be undone before the body is text.
    */
  private final case class HttpHead(bodyStart: Int, chunked: Boolean,
      gzip: Boolean, charset: Option[String])

  /** Accept a response iff it has an HTTP status line (checked on raw
    * bytes — no transient decode), a CRLF CRLF header terminator, a
    * LINE-ANCHORED `Content-Type: text/html` (a header whose name
    * merely ends in "content-type", e.g. X-Original-Content-Type, must
    * not match), and a body coding this parser can undo (identity,
    * chunked, gzip — anything else fails closed: an undecodable body
    * has no extractable links). Headers are decoded ONCE, only up to
    * the terminator.
    */
  private def parseHead(payload: Array[Byte]): Option[HttpHead] = {
    if (payload.length < 16) return None
    if (!(payload(0) == 'H' && payload(1) == 'T' && payload(2) == 'T' &&
      payload(3) == 'P' && payload(4) == '/')) return None
    // the status-line prefix is checked above, so 0 means no terminator
    val bodyStart = CcIndex.httpBodyStart(payload)
    if (bodyStart == 0) return None
    val headers = new String(payload, 0, bodyStart - 4, UTF_8)
      .toLowerCase(java.util.Locale.ROOT) // "CHUNKED" under tr-TR otherwise
    def headerValue(name: String): Option[String] = {
      val probe = "\n" + name + ":"
      val i = headers.indexOf(probe)
      if (i < 0) None
      else {
        val vs = i + probe.length
        val ve = headers.indexOf('\r', vs) match {
          case -1 => headers.length
          case e  => e
        }
        Some(headers.substring(vs, ve).trim)
      }
    }
    val ct = headerValue("content-type").getOrElse(return None)
    if (!ct.contains("text/html")) return None
    val chunked =
      headerValue("transfer-encoding").exists(_.contains("chunked"))
    val enc = headerValue("content-encoding").getOrElse("")
    val gzip = enc.contains("gzip") // covers x-gzip
    if (enc.nonEmpty && !gzip && enc != "identity") return None
    // transport charset: the Content-Type "charset=" parameter (the
    // headers string is already lowercased)
    val charset = {
      val at = ct.indexOf("charset=")
      if (at < 0) None
      else Some(ct.substring(at + 8).takeWhile(c => c != ';' && c != ' ')
        .trim)
    }
    Some(HttpHead(bodyStart, chunked, gzip, charset))
  }

  /** Header-only acceptance check: Some(body start) iff [[parseHead]]
    * accepts. Costs no body decode — the column-pruned DSv2 path (html
    * column dropped) pays exactly this per record, and it accepts
    * EXACTLY the rows [[htmlOfHttpResponse]] yields, so pruned and
    * unpruned scans agree on row counts.
    */
  def htmlBodyStart(payload: Array[Byte]): Option[Int] =
    parseHead(payload).map(_.bodyStart)

  /** Cap on a decompressed body: a crafted gzip member must not
    * balloon one page into gigabytes (64 MiB of HTML is far past any
    * real page; the decode stops there and the truncated prefix still
    * scans).
    */
  private val MaxBodyBytes = 64 << 20

  /** De-chunk a Transfer-Encoding: chunked body (hex size line, CRLF,
    * that many bytes, CRLF, ...; 0-size chunk ends). Malformed framing
    * throws — the caller maps that to an empty body.
    */
  private def dechunk(b: Array[Byte], from: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(
      math.min(b.length - from, 1 << 20))
    var i = from
    var done = false
    while (!done) {
      var j = i
      while (j + 1 < b.length && !(b(j) == '\r' && b(j + 1) == '\n')) j += 1
      if (j + 1 >= b.length) throw new java.io.IOException("bad chunk size line")
      // size line may carry ;extensions — take the leading hex token
      val line = new String(b, i, j - i, UTF_8).trim
      val hex = line.takeWhile(c => Character.digit(c, 16) >= 0)
      if (hex.isEmpty) throw new java.io.IOException("bad chunk size")
      val size = java.lang.Long.parseLong(hex, 16)
      if (size < 0 || size > b.length - j) // can never fit: hostile
        throw new java.io.IOException("chunk larger than payload")
      if (size == 0L) done = true
      else {
        val ds = j + 2
        if (ds + size > b.length) throw new java.io.IOException("truncated chunk")
        out.write(b, ds, size.toInt)
        if (out.size > MaxBodyBytes) done = true
        else i = ds + size.toInt + 2 // past data + trailing CRLF
      }
    }
    out.toByteArray
  }

  private def gunzip(b: Array[Byte], from: Int = 0): Array[Byte] = {
    // (b, from) slice avoids copying the body just to wrap a stream;
    // Long sizing: b.length * 4 wraps negative past 512 MiB. close() in
    // finally: each GZIPInputStream owns a NATIVE zlib Inflater that
    // only a Cleaner would otherwise free — on a per-record hot path
    // that accumulates off-heap memory between GCs.
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b, from, b.length - from), 1 << 16)
    try {
      val out = new java.io.ByteArrayOutputStream(
        math.min((b.length - from).toLong * 4, 1L << 20).toInt)
      val buf = new Array[Byte](1 << 16)
      var n = in.read(buf)
      while (n >= 0 && out.size < MaxBodyBytes) {
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    } finally in.close()
  }

  /** The HTML body of an `application/http` response: [[parseHead]]'s
    * acceptance, then the body decode with chunked/gzip codings undone
    * (real crawlers store responses as fetched — a gzip or chunked body
    * decoded as raw UTF-8 would silently scan to zero links). None =
    * not an HTML response; Some("") = an accepted response whose body
    * failed to decode (kept as a row so pruned/unpruned counts agree,
    * contributes no links).
    */
  def htmlOfHttpResponse(payload: Array[Byte]): Option[String] =
    parseHead(payload).map { h =>
      try {
        // charset-aware decode (graft.ext.Charsets): BOM > the header's
        // charset= parameter > meta prescan > UTF-8 validation >
        // windows-1252 fallback — a cp1252/UTF-16 page no longer turns
        // its non-ASCII bytes into U+FFFD before the link scan
        if (!h.chunked && !h.gzip) // identity: decode in place, no copy
          graft.ext.Charsets.decode(payload, h.charset, h.bodyStart)._1
        else if (h.chunked) {
          val body = dechunk(payload, h.bodyStart)
          graft.ext.Charsets.decode(
            if (h.gzip) gunzip(body) else body, h.charset)._1
        } else // gzip only: decompress the slice in place, no copy
          graft.ext.Charsets.decode(gunzip(payload, h.bodyStart),
            h.charset)._1
      } catch { case scala.util.control.NonFatal(_) => "" }
    }
}

/** WARC(raw HTML) → DocLink extraction: the WAT pipeline's structure —
  * the `warc` source decodes each archive in its own task, then the
  * SHARED relational tail — with [[WarcHtml.scanHtml]] standing where
  * WAT's pre-extracted JSON stood. Interchangeable with [[WatExtract]]
  * downstream by construction (both call [[WatExtract.extractLinks]]).
  */
object WarcExtract {

  /** End-to-end: WARC paths → DocLink dataset, same semantics (and
    * same relational tail) as [[WatExtract.fromPaths]]. One partition
    * per archive up to `maxTasks`, contiguous batching above it; the
    * HTML scan runs per row in the same task that decoded the archive
    * (no re-shuffle of page bodies).
    */
  def fromPaths(spark: SparkSession, paths: Seq[String], docType: String,
      maxTasks: Int = graft.sources.ArchiveSource.DefaultMaxTasks)
      : Dataset[DocLink] = {
    import spark.implicits._
    val linkFrame = spark.read.format("warc")
      .option("max_tasks", maxTasks.toString)
      .load(paths: _*)
      .select("warc_path", "page_url", "html")
      .as[(String, String, String)]
      .mapPartitions(_.map { case (p, uri, html) =>
        val (base, links) = WarcHtml.scanHtml(html)
        WarcHtml.PageLinks(p.substring(p.lastIndexOf('/') + 1), uri,
          base.orNull, links)
      })
      .toDF()
    WatExtract.extractLinks(linkFrame, docType)
  }
}
