package graft.wat

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WAT OUTPUT — the metadata-sidecar generator, the fourth and last
  * write-side form: given raw HTML pages (a crawl whose WAT sidecars
  * are missing, stale, or never existed), emit `.warc.wat.gz` shards
  * of `WARC-Type: metadata` records whose JSON envelopes carry the
  * SAME `Head.Base` + `Links` extraction the real crawler's WAT
  * pipeline produces — so WAT-only consumers (including this engine's
  * own [[WatExtract]], and the reference pipeline itself) can run over
  * a corpus that only had raw WARCs. The parity oracle is the point:
  * extraction over engine-written sidecars must hash-match extraction
  * over the crawler's own WAT of the same pages.
  *
  * The link scan is [[WarcHtml.scanHtml]] — the identical scanner the
  * raw-WARC source uses, so WARC-read ≡ WAT-write→WAT-read by
  * construction, and the q_warc_extract parity golden extends to the
  * written sidecars.
  *
  * Same posture as the other sinks: warcinfo lead, one gzip member
  * per record, deterministic bytes, atomic partition-keyed publish,
  * zero shuffle introduced. The HTML scan runs inside the write task
  * (page bodies arrive with the caller's partitioning and never
  * shuffle again).
  */
object WatSink {

  /** JSON string escape: quote, backslash, and control chars (the
    * envelope carries page-controlled alt/anchor text — a stray
    * newline must not break the record's JSON).
    */
  private def jesc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '"') sb.append("\\\"")
      else if (c == '\\') sb.append("\\\\")
      else if (c < ' ') sb.append(f"\\u${c.toInt}%04x")
      else sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** One page's WAT envelope JSON — the field paths [[WatExtract]]
    * (and the reference, cc2dataset/main.py:144-164) navigate:
    * `Container.Filename` (the source WARC the metadata describes),
    * `Envelope.WARC-Header-Metadata.WARC-Target-URI`,
    * `…HTML-Metadata.Head.Base` when the page declared one, and
    * `…HTML-Metadata.Links` with alt/text omitted when absent
    * (WAT's omitted-key convention — PERMISSIVE `from_json` reads
    * them back as null, exactly like real sidecars).
    */
  private[wat] def envelopeJson(sourceArchive: String, pageUrl: String,
      base: Option[String], links: Seq[WarcHtml.Link]): String = {
    val linkJson = links.map { l =>
      val fields = Seq(
        Some(s""""path": "${jesc(l.path)}""""),
        Some(s""""url": "${jesc(l.url)}""""),
        Option(l.alt).filter(_.nonEmpty)
          .map(a => s""""alt": "${jesc(a)}""""),
        Option(l.text).filter(_.nonEmpty)
          .map(t => s""""text": "${jesc(t)}"""")
      ).flatten
      fields.mkString("{", ", ", "}")
    }.mkString("[", ", ", "]")
    val baseJson = base.filter(_.nonEmpty)
      .map(b => s""""Head": {"Base": "${jesc(b)}"}, """).getOrElse("")
    s"""{"Container": {"Filename": "${jesc(sourceArchive)}"}, """ +
      s""""Envelope": {"WARC-Header-Metadata": """ +
      s"""{"WARC-Target-URI": "${jesc(pageUrl)}"}, """ +
      s""""Payload-Metadata": {"HTTP-Response-Metadata": """ +
      s"""{"HTML-Metadata": {$baseJson"Links": $linkJson}}}}}"""
  }

  /** One page → a WARC `metadata` record holding its envelope JSON. */
  private def metadataRecord(sourceArchive: String, pageUrl: String,
      html: String, warcDate: String): Array[Byte] = {
    val (base, links) = WarcHtml.scanHtml(html)
    val body = envelopeJson(sourceArchive, pageUrl, base, links)
      .getBytes(UTF_8)
    WarcSink.warcRecord("metadata", Seq(
      "WARC-Record-ID" -> s"<${WarcSink.recordId(pageUrl, body)}>",
      "WARC-Date" -> warcDate,
      "WARC-Target-URI" -> pageUrl),
      "application/json", body)
  }

  /** Write `(cc_filename, page_url, html)` rows as WAT metadata
    * shards under `dir` — `cc_filename` is the SOURCE archive each
    * page came from (what `Container.Filename` names in real WAT, and
    * what extraction surfaces as the `cc_filename` column). One
    * `$prefix-NNNNN.warc.wat.gz` per non-empty input partition, each
    * led by a warcinfo record; manifest contract and determinism as
    * the other sinks.
    */
  def writePages(pages: DataFrame, dir: String,
      prefix: String = "wat",
      warcDate: String = "2024-01-01T00:00:00Z"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    WarcSink.writeShards(pages
      .select(col("cc_filename").cast("string"),
        col("page_url").cast("string"), col("html").cast("string"))
      .as[(String, String, String)], dir, prefix, warcDate,
      suffix = ".warc.wat.gz") { row =>
      metadataRecord(if (row._1 == null) "" else row._1,
        if (row._2 == null) "" else row._2,
        if (row._3 == null) "" else row._3, warcDate)
    }
  }
}
