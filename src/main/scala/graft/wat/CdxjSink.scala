package graft.wat

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CDXJ OUTPUT — the text-index sink, completing the output side of
  * the index stack: [[WarcSink]] re-emits a curated sub-corpus as
  * archives, this writes its INDEX in CC's clustered publication shape
  * (`cdx-NNNNN.gz` shards of independently-gzipped line blocks + the
  * `cluster.idx` sidecar), so the engine's own output corpus is
  * domain-seekable by [[Cdxj.lookupPrefix]] exactly like the public
  * one — archive shards, columnar index, or text index: every form the
  * engine consumes, it can now produce.
  *
  * 100 TB posture: ONE range exchange of narrow index LINES (strings —
  * never archive bytes; the global SURT sort is the format's defining
  * property, so the exchange is the workload), then a pure
  * per-partition imperative writer (the same [[WarcSink.publishShard]]
  * temp+rename publish, deterministic bytes and retry idempotence as
  * the WARC shards; each block one [[WarcSink.gzipMember]]). The
  * `cluster.idx` is assembled driver-side from ONE ROW PER BLOCK
  * (thousands of lines per block — tens of MB of sidecar for a
  * 300M-line monthly index, the size CC itself publishes and
  * [[Cdxj.readClusterIdx]] already reads driver-side by design).
  */
object CdxjSink {

  /** Write an index frame (the [[Cdxj.indexFrame]] column shape) as a
    * clustered CDXJ layout under `dir`: `shards` range-partitioned
    * `cdx-NNNNN.gz` files, each a sequence of independent gzip members
    * of ≤ `blockLines` lines, plus `cluster.idx` (one line per block:
    * first key, shard, offset, compressed length, seq). Returns the
    * cluster.idx path.
    *
    * Lines sort GLOBALLY (range partitioning ascending + in-partition
    * sort; a line's `<surt> <ts>` prefix is its sort key, the JSON
    * tail breaks exact ties stably) — the seekability contract that
    * makes the binary search valid across shard boundaries.
    */
  def writeClustered(idx: DataFrame, dir: String, shards: Int,
      blockLines: Int = 3000): String = {
    require(shards > 0, s"shards: $shards")
    require(blockLines > 0, s"blockLines: $blockLines")
    val spark = idx.sparkSession
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    // render each row to its final CDXJ line on the EXECUTORS (the
    // sort key is the line itself; nothing re-renders after the
    // exchange)
    val lines = idx
      .select(col("url").cast("string"),
        col("fetch_time").cast("string"),
        col("content_mime_type").cast("string"),
        col("fetch_status").cast("int"),
        col("content_digest").cast("string"),
        col("warc_filename").cast("string"),
        col("warc_record_offset").cast("long"),
        col("warc_record_length").cast("long"),
        (if (idx.columns.contains("content_languages"))
          col("content_languages").cast("string") else lit(""))
          .as("langs"),
        (if (idx.columns.contains("content_charset"))
          col("content_charset").cast("string") else lit(""))
          .as("charset"))
      .as[(String, String, String, Int, String, String, Long, Long,
        String, String)]
      .map { case (url, ts, mime, status, digest, fname, off, len,
          langs, charset) =>
        Cdxj.formatLine(url, if (ts == null) "" else ts, mime, status,
          digest, fname, off, len,
          languages = if (langs == null) "" else langs,
          encoding = if (charset == null) "" else charset)
      }
    // blocks: (shard pid, offset, length, firstKey) — one row per
    // gzip member, the only thing that leaves the write tasks
    val blocks = lines
      .repartitionByRange(shards, col("value"))
      .sortWithinPartitions("value")
      .mapPartitions { it =>
        if (!it.hasNext) Iterator.empty
        else WarcSink.publishShard(confBc.value.value, dir, "cdx", ".gz") {
          (pid, _, out) =>
            val blockRows = Seq.newBuilder[(Int, String, Long, Long)]
            var off = 0L
            it.grouped(blockLines).foreach { block =>
              val member = WarcSink.gzipMember(
                block.map(_ + "\n").mkString.getBytes(UTF_8))
              out.write(member)
              // the block key is the first line's `<surt> <ts>` prefix
              val head = block.head
              val s1 = head.indexOf(' ')
              val s2 = head.indexOf(' ', s1 + 1)
              val key = if (s2 > 0) head.substring(0, s2) else head
              blockRows += ((pid, key, off, member.length.toLong))
              off += member.length
            }
            blockRows.result().iterator
        }
      }
      // one row per BLOCK — the cluster.idx's own cardinality; this
      // collect is the sidecar write, not a data collect
      .collect()
      .sortBy(b => (b._1, b._3))
    val sb = new StringBuilder
    for ((b, seq) <- blocks.zipWithIndex) {
      sb.append(Cdxj.formatClusterLine(
        Cdxj.IdxBlock(b._2, f"cdx-${b._1}%05d.gz", b._3, b._4),
        seq.toLong))
      sb.append('\n')
    }
    val idxPath = new Path(dir, "cluster.idx")
    WarcSink.publish(
      idxPath.getFileSystem(spark.sparkContext.hadoopConfiguration),
      new Path(dir, ".cluster.idx.tmp"), idxPath)(
      _.write(sb.toString.getBytes(UTF_8)))
    idxPath.toString
  }
}
