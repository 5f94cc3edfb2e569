package graft.wat

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WET OUTPUT — the extracted-text sink, the last of the three archive
  * forms ([[WarcSink]] writes WARC, [[CdxjSink]] the text index): a
  * curated TEXT corpus re-emitted as `.warc.wet.gz` shards of
  * `WARC-Type: conversion` records, the format downstream text
  * pipelines (and this engine's own [[WetText]] source) consume
  * without HTML parsing. Every producible form is also consumable and
  * vice versa — the round trip is oracled.
  *
  * Same posture as the other sinks: warcinfo-led shards, one gzip
  * member per record, deterministic bytes (record ids seed on
  * url + text sha1; caller-pinned date), atomic partition-keyed
  * publish, zero shuffle introduced (callers choose the shard count).
  */
object WetSink {

  /** One page's text → a WARC `conversion` record. The payload is the
    * raw UTF-8 text (the WET convention — no HTTP envelope);
    * `WARC-Block-Digest` carries its sha1-base32 like real WET shards
    * do.
    */
  private def conversionRecord(url: String, text: String,
      warcDate: String): Array[Byte] = {
    val body = text.getBytes(UTF_8)
    WarcSink.warcRecord("conversion", Seq(
      "WARC-Record-ID" -> s"<${WarcSink.recordId(url, body)}>",
      "WARC-Date" -> warcDate,
      "WARC-Target-URI" -> url,
      "WARC-Block-Digest" -> s"sha1:${CcIndex.sha1Base32(body)}"),
      "text/plain", body)
  }

  /** Write `(page_url, wet_text)` rows as WET conversion shards under
    * `dir` — one `$prefix-NNNNN.warc.wet.gz` per non-empty input
    * partition, each led by a warcinfo record. Returns the manifest
    * frame `(path, records, bytes)`; the caller's action drives the
    * write. Note the read-back decodes through the charset sniff
    * ([[WetText.docsOf]]): text opening with a BOM or a `<meta
    * charset>`-shaped prefix may not round-trip verbatim — the same
    * contract real WET shards live under.
    */
  def writeTexts(texts: DataFrame, dir: String,
      prefix: String = "wet",
      warcDate: String = "2024-01-01T00:00:00Z"): DataFrame = {
    val spark = texts.sparkSession
    import spark.implicits._
    WarcSink.writeShards(texts
      .select(col("page_url").cast("string"),
        col("wet_text").cast("string"))
      .as[(String, String)], dir, prefix, warcDate,
      suffix = ".warc.wet.gz") { row =>
      conversionRecord(if (row._1 == null) "" else row._1,
        if (row._2 == null) "" else row._2, warcDate)
    }
  }
}
