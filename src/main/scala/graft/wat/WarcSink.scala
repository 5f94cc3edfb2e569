package graft.wat

import java.io.{ByteArrayOutputStream, IOException, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.zip.GZIPOutputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WARC OUTPUT — the re-packaging sink. A curation pipeline's end
  * product is often not parquet but a filtered sub-corpus in the
  * archive format the rest of the ecosystem consumes (WARC `response`
  * records); the reference stops at parquet, real pipelines re-emit.
  *
  * Layout matches CC's own publication conventions so the OUTPUT is a
  * first-class input to everything upstream in this engine: a leading
  * `warcinfo` record per shard (the form real CC shards and the
  * engine's own fixtures carry), then one `.warc.gz` shard per task,
  * EVERY record its own gzip member (re-indexable: [[CcIndex
  * .memberSpans]] frames it, `buildIndex`/`buildIndexFromRecords` over
  * the written shards yields locator rows, and the ranged fetch can
  * pull single records back out), each record carrying a
  * `WARC-Payload-Digest` header (sha1-base32 of the HTTP entity) so
  * fetch-side verification works on the round trip.
  *
  * Two record shapes share the writer core: [[writePages]] for the
  * HTML-page corpus (string bodies, 200/text-html envelope) and
  * [[writeRecords]] for the MIXED corpus (binary bodies with each
  * record's own status + content type — composes directly with
  * [[CcIndex.fetchHttpRecords]] output, so a filtered crawl re-packs
  * losslessly whatever formats it carries).
  *
  * 100 TB posture: pure per-partition imperative write — no shuffle is
  * introduced (callers choose the shard count with their own
  * `repartition`), bytes stream member-by-member (no whole-shard
  * buffer), and the commit is write-to-temp + atomic rename keyed by
  * partition id, so a retried or speculative task republishes the same
  * shard instead of duplicating records.
  *
  * This object is also the package's one archive writer: the WARC
  * record ([[warcRecord]]), the HTTP response envelope
  * ([[httpResponse]]), the gzip member ([[gzipMember]]), the record id
  * ([[recordId]]) and the temp-then-rename publish ([[publish]],
  * [[publishShard]]) are written here once, and [[WatSink]],
  * [[WetSink]], [[CdxjSink]] and [[WatFixture]] call them.
  */
object WarcSink {

  /** Deterministic WARC record id: real ids are `urn:uuid` values, and
    * a random UUID would make the written bytes run-dependent — derive
    * the uuid form from md5 over the given seed bytes instead (stable
    * across retries, which is also what makes the shard republish
    * idempotent byte-for-byte).
    */
  private def recordId(seed: Array[Byte]): String = {
    val d = MessageDigest.getInstance("MD5").digest(seed)
    val hex = d.map("%02x".format(_)).mkString
    s"urn:uuid:${hex.substring(0, 8)}-${hex.substring(8, 12)}-" +
      s"${hex.substring(12, 16)}-${hex.substring(16, 20)}-" +
      hex.substring(20, 32)
  }

  private def recordId(url: String): String =
    recordId(url.getBytes(UTF_8))

  /** The record id of a capture: seeded on url ‖ 0 ‖ sha1(body), so two
    * captures of the SAME url with different bytes (a crawl's
    * duplicate-url reality) keep distinct ids while staying
    * deterministic.
    */
  private[wat] def recordId(url: String, body: Array[Byte]): String = {
    val seed = new ByteArrayOutputStream(url.length + 21)
    seed.write(url.getBytes(UTF_8)); seed.write(0)
    seed.write(MessageDigest.getInstance("SHA-1").digest(body))
    recordId(seed.toByteArray)
  }

  /** The HTTP reason phrase for the re-emitted status line — a small
    * fixed table (anything else gets the bare generic), chosen for
    * determinism, not completeness: WARC consumers key on the numeric
    * code.
    */
  private def reasonPhrase(status: Int): String = status match {
    case 200 => "OK"
    case 301 => "Moved Permanently"
    case 302 => "Found"
    case 304 => "Not Modified"
    case 403 => "Forbidden"
    case 404 => "Not Found"
    case 500 => "Internal Server Error"
    case 503 => "Service Unavailable"
    case _   => "Status"
  }

  /** The HTTP response envelope: status line, `Content-Type` and, when
    * there is a body, its `Content-Length` and the body itself. `None`
    * is a revisit record's headers-only payload.
    */
  private[wat] def httpResponse(status: Int, contentType: String,
      body: Option[Array[Byte]]): Array[Byte] = {
    val head = s"HTTP/1.1 $status ${reasonPhrase(status)}\r\n" +
      s"Content-Type: $contentType\r\n" +
      body.fold("")(b => s"Content-Length: ${b.length}\r\n") + "\r\n"
    head.getBytes(UTF_8) ++ body.getOrElse(Array.emptyByteArray)
  }

  /** One WARC record, the framing every writer in this package shares:
    * the version line, `WARC-Type`, `headers` in the caller's order,
    * `Content-Type`, `Content-Length`, the block and the CRLF CRLF
    * record terminator.
    */
  private[wat] def warcRecord(warcType: String,
      headers: Seq[(String, String)], contentType: String,
      block: Array[Byte]): Array[Byte] = {
    val sb = new StringBuilder(s"WARC/1.0\r\nWARC-Type: $warcType\r\n")
    headers.foreach { case (k, v) => sb.append(s"$k: $v\r\n") }
    sb.append(s"Content-Type: $contentType\r\n")
    sb.append(s"Content-Length: ${block.length}\r\n\r\n")
    val head = sb.toString.getBytes(UTF_8)
    val rec = new ByteArrayOutputStream(head.length + block.length + 4)
    rec.write(head); rec.write(block)
    rec.write("\r\n\r\n".getBytes(UTF_8))
    rec.toByteArray
  }

  /** `bytes` as one gzip member — one per WARC record (the framing
    * [[CcIndex.memberSpans]] and the ranged fetch rely on), one per
    * CDXJ block.
    */
  private[wat] def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(bytes); gz.close()
    bos.toByteArray
  }

  /** Write `tmp` through `write`, then publish it as `target`:
    * delete-then-rename, so a retried task (which rewrites the SAME
    * deterministic bytes) makes last-publish-wins exactly-once in
    * content. A `write` that throws leaves no temp file behind.
    */
  private[wat] def publish[A](fs: FileSystem, tmp: Path, target: Path)(
      write: OutputStream => A): A = {
    val out = fs.create(tmp, true)
    val result =
      try try write(out) finally out.close()
      catch { case e: Throwable => fs.delete(tmp, false); throw e }
    fs.delete(target, false)
    if (!fs.rename(tmp, target))
      throw new IOException(s"could not publish $target")
    result
  }

  /** [[publish]] this task's shard `$prefix-NNNNN$suffix` under `dir`
    * (NNNNN the partition id, so a retry republishes the same name)
    * through a temp file named for the task attempt. `write` receives
    * the partition id, the shard's path and its stream.
    */
  private[wat] def publishShard[A](conf: Configuration, dir: String,
      prefix: String, suffix: String)(
      write: (Int, Path, OutputStream) => A): A = {
    val ctx = TaskContext.get()
    val pid = if (ctx == null) 0 else ctx.partitionId()
    val attempt = if (ctx == null) 0L else ctx.taskAttemptId()
    val target = new Path(dir, f"$prefix-$pid%05d$suffix")
    publish(target.getFileSystem(conf),
      new Path(dir, f".$prefix-$pid%05d-$attempt.tmp"), target)(
      out => write(pid, target, out))
  }

  /** The shard's leading `warcinfo` record (application/warc-fields
    * body) — what real CC shards open with and what the engine's own
    * fixtures write; record id derived from the shard filename so the
    * record stays deterministic per shard.
    */
  private def warcinfoRecord(filename: String, warcDate: String)
      : Array[Byte] =
    warcRecord("warcinfo", Seq(
      "WARC-Record-ID" -> s"<${recordId(s"warcinfo:$filename")}>",
      "WARC-Date" -> warcDate,
      "WARC-Filename" -> filename),
      "application/warc-fields",
      ("software: graft-warcsink\r\n" +
        "format: WARC File Format 1.0\r\n").getBytes(UTF_8))

  /** One capture → a WARC `response` record: the HTTP envelope around
    * `body` under the given status and content type, and WARC headers
    * incl. the payload digest.
    */
  private def responseRecord(id: String, url: String, status: Int,
      contentType: String, body: Array[Byte],
      warcDate: String): Array[Byte] = {
    val payload = httpResponse(status, contentType, Some(body))
    warcRecord("response", Seq(
      "WARC-Record-ID" -> s"<$id>",
      "WARC-Date" -> warcDate,
      "WARC-Target-URI" -> url,
      "WARC-Payload-Digest" -> s"sha1:${CcIndex.payloadDigest(payload)}"),
      "application/http; msgtype=response", payload)
  }

  /** The shared per-partition shard writer: warcinfo lead + one gzip
    * member per row, each row's record built by `record`, published
    * through [[publishShard]]. Returns the manifest rows `(path,
    * records, bytes)` for non-empty partitions.
    */
  private[wat] def writeShards[A](rows: org.apache.spark.sql.Dataset[A],
      dir: String, prefix: String, warcDate: String,
      suffix: String = ".warc.gz")(
      record: A => Array[Byte]): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    rows.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else Iterator.single(publishShard(confBc.value.value, dir, prefix,
          suffix) { (_, target, out) =>
        var bytes = 0L
        def put(rec: Array[Byte]): Unit = {
          val m = gzipMember(rec)
          out.write(m)
          bytes += m.length
        }
        put(warcinfoRecord(target.getName, warcDate))
        var n = 0L
        it.foreach { row => put(record(row)); n += 1 }
        (target.toString, n, bytes)
      })
    }.toDF("path", "records", "bytes")
  }

  /** Write `(page_url, html)` rows as WARC response shards under
    * `dir` — one shard per input partition, named `$prefix-NNNNN
    * .warc.gz`, each led by a `warcinfo` record. Returns the manifest
    * frame `(path, records, bytes)` (one row per non-empty shard —
    * `records` counts response records, not the warcinfo lead; the
    * caller's action drives the write). `warcDate` is caller-supplied
    * so the written bytes stay deterministic (a wall-clock stamp would
    * defeat golden checks and byte-level retry idempotence).
    */
  def writePages(pages: DataFrame, dir: String,
      prefix: String = "pages",
      warcDate: String = "2024-01-01T00:00:00Z"): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    writeShards(pages
      .select(col("page_url").cast("string"), col("html").cast("string"))
      .as[(String, String)], dir, prefix, warcDate) { row =>
      // the page corpus's record id stays seeded on the url alone (one
      // page per url), so existing shards republish byte-identically
      val url = if (row._1 == null) "" else row._1
      responseRecord(recordId(url), url, 200, "text/html; charset=UTF-8",
        (if (row._2 == null) "" else row._2).getBytes(UTF_8), warcDate)
    }
  }

  /** Write the MIXED corpus: `(page_url, fetch_status, content_type,
    * body)` rows — binary bodies re-emitted under each record's own
    * HTTP status and content type (the column shape [[CcIndex
    * .fetchHttpRecords]] produces, so index → ranged fetch → re-pack
    * composes without a rename). Same shard layout, warcinfo lead,
    * manifest contract, and deterministic-byte idempotence as
    * [[writePages]].
    */
  def writeRecords(records: DataFrame, dir: String,
      prefix: String = "records",
      warcDate: String = "2024-01-01T00:00:00Z"): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    writeShards(records
      .select(col("page_url").cast("string"),
        col("fetch_status").cast("int"),
        col("content_type").cast("string"),
        col("body").cast("binary"))
      .as[(String, Int, String, Array[Byte])], dir, prefix, warcDate) {
      row =>
        val url = if (row._1 == null) "" else row._1
        val body = if (row._4 == null) Array.emptyByteArray else row._4
        responseRecord(recordId(url, body), url, row._2,
          if (row._3 == null || row._3.isEmpty) "application/octet-stream"
          else row._3, body, warcDate)
    }
  }
}
