package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.wat.{ClosingIterator, WatReader}

/** DataSourceV2 `wat` format — the one reader of `.warc.wat.gz`
  * archives, in batch and in stream (SURVEY.md §2.1 S1):
  *
  *   spark.read.format("wat").load(paths: _*)
  *     → (wat_path string, payload string)   // metadata records only
  *
  * One input partition per archive up to `max_tasks` (the natural unit:
  * one fetch, one sequential gzip stream — matching the reference's
  * one-task-per-WAT parallelization), contiguous batching above it.
  * Downstream extraction stays fully relational (WatExtract.extract over
  * the payload column).
  */
class WatDataSource extends ArchiveDataSource(WatDataSource)
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "wat"
}

object WatDataSource extends ArchiveFormat {
  val schema: StructType = StructType(Seq(
    StructField("wat_path", StringType, nullable = false),
    StructField("payload", StringType, nullable = false)))

  /** Metadata records of one WAT; a pruned `payload` skips the per-record
    * UTF-8 decode (row count = metadata records either way).
    */
  def decode(path: String, conf: Configuration, required: Set[String],
      onCorrupt: Exception => Unit): ClosingIterator[Array[Any]] = {
    val u = UTF8String.fromString(path)
    val wantPayload = required("payload")
    val recs = WatReader.metadataRecords(path, conf, onCorrupt)
    new ClosingIterator(
      recs.map(r => Array[Any](u,
        if (wantPayload) UTF8String.fromString(r.payloadString) else null)),
      () => recs.close())
  }
}
