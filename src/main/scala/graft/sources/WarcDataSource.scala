package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.wat.{ClosingIterator, WarcHtml, WatReader}

/** DataSourceV2 `warc` format — raw-WARC HTML pages as a table, for
  * crawls whose WAT sidecars are missing or stale (the reference has no
  * raw-WARC story at all — it reads only WAT's pre-extracted Links,
  * cc2dataset/main.py:144-155), and the one reader of raw WARCs:
  *
  *   spark.read.format("warc").load(paths: _*)
  *     → (warc_path string, page_url string, html string)
  *     // response records with a text/html Content-Type only
  *
  * Same scale posture as the wat source (the shared [[ArchiveScan]]);
  * dropping the `html` column skips the body decode per record (counts
  * and listings pay headers only). Downstream link extraction:
  * [[graft.wat.WarcExtract.fromPaths]] (scanHtml per row, then the
  * shared relational tail).
  */
class WarcDataSource extends ArchiveDataSource(WarcDataSource)
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "warc"
}

object WarcDataSource extends ArchiveFormat {
  val schema: StructType = StructType(Seq(
    StructField("warc_path", StringType, nullable = false),
    StructField("page_url", StringType, nullable = true),
    StructField("html", StringType, nullable = false)))

  def decode(path: String, conf: Configuration, required: Set[String],
      onCorrupt: Exception => Unit): ClosingIterator[Array[Any]] = {
    val u = UTF8String.fromString(path)
    val wantHtml = required("html")
    val recs = WatReader.archiveRecords(path, conf, onCorrupt)
    new ClosingIterator(
      recs.filter(_.warcType.equalsIgnoreCase("response")).flatMap { r =>
        val html =
          if (wantHtml)
            // full decode, transfer/content codings undone; "" on a
            // broken body (row kept so pruned/unpruned counts agree)
            WarcHtml.htmlOfHttpResponse(r.payload).map(UTF8String.fromString)
          else
            // html pruned → header-only acceptance, no body decode;
            // accepts exactly the rows the decode path yields
            WarcHtml.htmlBodyStart(r.payload).map(_ => null: UTF8String)
        html.map(h => Array[Any](u,
          r.headers.get("warc-target-uri").map(UTF8String.fromString).orNull,
          h))
      },
      () => recs.close())
  }
}
