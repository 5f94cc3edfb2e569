package graft.wat

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, substring_index}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ArchiveDataSource, ArchiveFormat}

/** WET (extracted-text) sidecar reader — the THIRD Common Crawl
  * archive format beside WAT metadata and raw WARC: one
  * `WARC-Type: conversion` record per page holding the crawler's own
  * plain-text extraction. A text pipeline that trusts CC's extraction
  * reads WET and skips HTML parsing entirely, so the engine exposes
  * it as a first-class source on the SAME archive scan as the other
  * two (one task per archive, gzip-member framing via
  * [[WatReader.archiveRecords]], corrupt frames end the file and count
  * once in the scan's `corruptArchives` metric).
  *
  * Payload decode: the WET spec says UTF-8, but real shards carry
  * BOMs and the odd mislabeled page — [[graft.ext.Charsets.decode]]
  * is total and handles both.
  */
object WetText {

  /** One extracted page: archive basename, target URI, text. */
  final case class WetDoc(cc_filename: String, page_url: String,
      wet_text: String)

  /** All conversion records of one WET file. Non-conversion records
    * (warcinfo headers CC writes first) are skipped; a record without
    * a target URI is dropped (nothing to key the page by). With `text`
    * false the body is not decoded and `wet_text` is null.
    */
  def docsOf(path: String, conf: Configuration,
      onCorrupt: Exception => Unit,
      text: Boolean = true): ClosingIterator[WetDoc] = {
    val ccName = path.substring(path.lastIndexOf('/') + 1)
    val recs = WatReader.archiveRecords(path, conf, onCorrupt)
    new ClosingIterator(
      recs.filter(_.warcType.equalsIgnoreCase("conversion"))
        .flatMap { r =>
          r.headers.get("warc-target-uri").map { uri =>
            WetDoc(ccName, uri,
              if (text) graft.ext.Charsets.decode(r.payload)._1 else null)
          }
        },
      () => recs.close())
  }

  /** One partition per WET path (the shared archive scan) →
    * (cc_filename, page_url, wet_text) rows. `cc_filename`, the
    * basename, is derived after the scan: the scan's path-column
    * pruning compares against the full path.
    */
  def docs(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format(classOf[WetSource].getName).load(paths: _*)
      .select(substring_index(col("wet_path"), "/", -1).as("cc_filename"),
        col("page_url"), col("wet_text"))
}

/** The WET format of the shared archive scan: (wet_path, page_url,
  * wet_text) per conversion record, through [[WetText.docsOf]].
  */
class WetSource extends ArchiveDataSource(WetSource)

object WetSource extends ArchiveFormat {
  val schema: StructType =
    StructType.fromDDL("wet_path string, page_url string, wet_text string")

  /** A pruned `wet_text` skips the body decode (row count = conversion
    * records with a target URI either way).
    */
  def decode(path: String, conf: Configuration, required: Set[String],
      onCorrupt: Exception => Unit): ClosingIterator[Array[Any]] = {
    val u = UTF8String.fromString(path)
    val docs =
      WetText.docsOf(path, conf, onCorrupt, text = required("wet_text"))
    new ClosingIterator(
      docs.map(d => Array[Any](u, UTF8String.fromString(d.page_url),
        UTF8String.fromString(d.wet_text))),
      () => docs.close())
  }
}
