package graft.wat

import java.io.{BufferedInputStream, ByteArrayInputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import graft.GraftLocalFileSystem

/** One WARC record: parsed header map + raw payload bytes. */
final case class WarcRecord(headers: Map[String, String], payload: Array[Byte]) {
  def warcType: String = headers.getOrElse("warc-type", "")
  def payloadString: String = new String(payload, StandardCharsets.UTF_8)
}

/** Iterator owning an underlying stream/handle. The reader iterators
  * release their source on EXHAUSTION, but an early-terminated scan
  * (limit pushdown, `take`, task kill, mid-partition exception) never
  * exhausts them — on the streaming-decode path that strands one open
  * FS/S3 handle per in-flight archive, the same descriptor-exhaustion
  * hazard the corrupt-construction guard closes `raw` for. `close()` is
  * idempotent and safe at any point of iteration; callers that may stop
  * early (the DSv2 PartitionReader, the flatMap task-completion
  * listener) call it unconditionally.
  */
final class ClosingIterator[A](underlying: Iterator[A], closeFn: () => Unit)
    extends Iterator[A] with AutoCloseable {
  private[this] var closed = false
  override def hasNext: Boolean = underlying.hasNext
  override def next(): A = underlying.next()
  override def close(): Unit = if (!closed) {
    closed = true
    try closeFn() catch { case _: Exception => () }
  }
}

object ClosingIterator {
  def empty[A]: ClosingIterator[A] =
    new ClosingIterator[A](Iterator.empty, () => ())
}

/** Minimal WARC/1.x frame reader for `.warc.wat.gz` archives.
  *
  * Mirrors what the reference gets from fastwarc with
  * `record_types=metadata, parse_http=False` (cc2dataset/main.py:138):
  * iterate records, keep type `metadata`, hand back the raw JSON payload.
  * No builtin Spark source reads WARC framing (SURVEY.md §4.3), so this is
  * the per-task imperative core that the Spark `flatMap` wraps — one task
  * per WAT file, exactly the reference's parallelization unit
  * (main.py:273-274).
  *
  * Framing per ISO 28500: `WARC/1.x CRLF`, header lines `Key: Value CRLF`,
  * blank CRLF, `Content-Length` payload bytes, then CRLF CRLF separator.
  * WAT gzip members are concatenated per record; `GZIPInputStream` handles
  * multi-member streams natively.
  */
object WatReader {

  /** The largest byte array the JVM allocates: an archive longer than
    * this cannot be fetched whole, and a record payload longer than this
    * cannot be held.
    */
  val MaxArrayBytes: Long = Int.MaxValue - 8

  /** Whole-file fetch with retry — parity with the reference's
    * fetch-into-BytesIO ≤10 attempts with 1 s sleeps
    * (cc2dataset/main.py:186-199). Whole-file reads also avoid ranged
    * remote GETs, the reference's own S3 throughput fix (HISTORY.md:23).
    * Returns empty on final failure (reference yields nothing).
    */
  def fetchAllBytes(path: String, conf: Configuration = GraftLocalFileSystem.conf(),
      attempts: Int = 10, sleepMs: Long = 1000L): Option[Array[Byte]] =
    withRetry(attempts, sleepMs) {
      val p = new Path(path)
      val in = p.getFileSystem(conf).open(p)
      try {
        val out = new java.io.ByteArrayOutputStream(1 << 20)
        val buf = new Array[Byte](1 << 16)
        var n = in.read(buf)
        while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
        out.toByteArray
      } finally in.close()
    }

  /** The one retry loop of every archive read: up to `attempts` tries
    * with `sleepMs` between them, None after the last failure. A missing
    * file ends the loop at once (no later attempt can find it). It is
    * interrupt-transparent: a task kill (speculative execution, job
    * cancel) interrupts the executor thread, and the loop propagates it
    * instead of sleeping through the remaining attempts.
    */
  private[wat] def withRetry[A](attempts: Int, sleepMs: Long)(body: => A): Option[A] = {
    var i = 0
    while (i < attempts) {
      try return Some(body)
      catch {
        case e: InterruptedException => throw e
        case _: java.io.FileNotFoundException => return None
        case scala.util.control.NonFatal(_) =>
          i += 1
          if (i < attempts) Thread.sleep(sleepMs)
      }
    }
    None
  }

  /** Codec sniffing by magic bytes: gzip (1f 8b) and zstd (28 b5 2f fd)
    * members decode transparently (both multi-member/multi-frame — WARC
    * archives concatenate one member per record); anything else passes
    * through as plain bytes. CC publishes gzip; zstd mirrors and
    * uncompressed local fixtures cost nothing extra to support since
    * zstd-jni ships with Spark.
    */
  def decompressed(raw: InputStream): InputStream = {
    val buf = new BufferedInputStream(raw, 1 << 16)
    buf.mark(4)
    val m = new Array[Byte](4)
    var got = 0
    var n = buf.read(m, got, 4 - got)
    while (n > 0) { got += n; n = if (got < 4) buf.read(m, got, 4 - got) else 0 }
    buf.reset()
    if (got >= 2 && m(0) == 0x1f.toByte && m(1) == 0x8b.toByte)
      new GZIPInputStream(buf, 1 << 16)
    else if (got >= 4 && m(0) == 0x28.toByte && m(1) == 0xb5.toByte &&
        m(2) == 0x2f.toByte && m(3) == 0xfd.toByte)
      new com.github.luben.zstd.ZstdInputStream(buf)
    else buf
  }

  /** Iterate all WARC records in a byte stream; compressed streams
    * (gzip or zstd, per [[decompressed]]) are detected by magic bytes
    * when `gzipped` is true (the name is historical — it means "sniff
    * and decode compression", false = treat as plain WARC bytes).
    *
    * Fault tolerance: any mid-file failure — truncated payload
    * (EOFException), gzip CRC/format corruption, frame desync — ENDS this
    * file's iteration instead of propagating. One bad archive among
    * thousands must not abort the whole job: a thrown exception here
    * reaches the Spark flatMap and fails the task deterministically on
    * all retries. The reference skips the entire shard on any parse
    * failure (cc2dataset/main.py:178-181 returns []); graft keeps the
    * records already read — strictly more data, a documented parity
    * delta.
    */
  def records(raw: InputStream, gzipped: Boolean = true,
      onCorrupt: Exception => Unit = WatReader.logCorrupt): ClosingIterator[WarcRecord] = {
    // GZIPInputStream's CONSTRUCTOR reads the first member's header, so
    // an archive truncated inside its opening bytes throws here — before
    // the iterator's guarded advance() exists. Same contract as mid-file
    // corruption: signal and yield nothing, never propagate (found by
    // the truncation-sweep fuzz; an unguarded construction failed the
    // task deterministically for a sub-10-byte shard).
    val in =
      try new BufferedInputStream(
        if (gzipped) decompressed(raw) else raw, 1 << 16)
      catch {
        case e: Exception =>
          // close the UNDERLYING stream before yielding nothing: the
          // advance() close only exists once construction succeeds, and
          // on the streaming-decode path `raw` is a real FS/S3 handle —
          // leaking one per corrupt shard exhausts descriptors on a
          // crawl with many truncated archives
          try raw.close() catch { case _: Exception => () }
          onCorrupt(e)
          return ClosingIterator.empty
      }
    val base = new Iterator[WarcRecord] {
      private var nextRec: WarcRecord = _
      private var done = false

      private def advance(): Unit = {
        nextRec = null
        while (nextRec == null && !done) {
          try {
            readRecord(in) match {
              case Some(r) => nextRec = r
              case None    => done = true
            }
          } catch {
            case e: Exception =>
              onCorrupt(e)
              done = true
          }
        }
        // release the source as soon as the file is exhausted — the
        // streaming-decode path holds a real remote/file handle, not a
        // byte-array wrapper
        if (done) try in.close() catch { case _: Exception => () }
      }

      advance()
      override def hasNext: Boolean = nextRec != null
      override def next(): WarcRecord = {
        val r = nextRec; advance(); r
      }
    }
    // exhaustion closes `in` inside advance(); the ClosingIterator close
    // covers early termination (double-close of an InputStream is a no-op)
    new ClosingIterator(base, () => in.close())
  }

  /** Open a path for streaming decode, retrying the OPEN like
    * [[fetchAllBytes]] retries the fetch. Mid-stream failures are the
    * stream consumer's problem ([[records]] ends the file's iteration) —
    * a partially-read remote stream cannot be resumed without re-reading,
    * which is exactly what whole-file mode is for.
    */
  def openStream(path: String, conf: Configuration = GraftLocalFileSystem.conf(),
      attempts: Int = 10, sleepMs: Long = 1000L): Option[InputStream] =
    withRetry(attempts, sleepMs) {
      val p = new Path(path)
      p.getFileSystem(conf).open(p): InputStream
    }

  /** Metadata records of one WAT file (fetch + frame parse), payload
    * bytes undecoded — callers that only need record existence (pruned
    * DSv2 scans, counts) skip the per-record UTF-8 decode entirely. The
    * fetch or stream decode is [[archiveRecords]]'s.
    */
  def metadataRecords(path: String, conf: Configuration = GraftLocalFileSystem.conf(),
      onCorrupt: Exception => Unit = WatReader.logCorrupt): ClosingIterator[WarcRecord] = {
    val recs = archiveRecords(path, conf, onCorrupt)
    new ClosingIterator(
      recs.filter(_.warcType.equalsIgnoreCase("metadata")),
      () => recs.close())
  }

  /** ALL records of one archive (fetch + frame walk), type-unfiltered —
    * the shared on-ramp for the WAT path (metadata records), the
    * raw-WARC path (response records) and WET (conversion records).
    *
    * Memory bound, decided from the archive's own length (one
    * `getFileStatus`): an archive that fits in one byte array
    * ([[MaxArrayBytes]]) is fetched whole (reference parity — one
    * sequential GET, retried as a whole); a longer one is DECODED AS A
    * STREAM, holding only the gzip window plus one record's payload at
    * a time, since no byte array can hold it. An unknown length fetches
    * whole.
    */
  def archiveRecords(path: String, conf: Configuration = GraftLocalFileSystem.conf(),
      onCorrupt: Exception => Unit = WatReader.logCorrupt): ClosingIterator[WarcRecord] =
    archiveRecords(path, conf, onCorrupt, MaxArrayBytes)

  /** [[archiveRecords]] with the whole-file limit as a parameter: the
    * test seam that reaches the streaming branch with a small archive.
    */
  private[graft] def archiveRecords(path: String, conf: Configuration,
      onCorrupt: Exception => Unit, wholeFileLimit: Long): ClosingIterator[WarcRecord] = {
    val size =
      try {
        val p = new Path(path)
        p.getFileSystem(conf).getFileStatus(p).getLen
      } catch { case scala.util.control.NonFatal(_) => -1L } // unknown: whole
    val source: Option[InputStream] =
      if (size > wholeFileLimit) openStream(path, conf)
      else fetchAllBytes(path, conf).map(new ByteArrayInputStream(_))
    source match {
      case None =>
        onCorrupt(new java.io.IOException(s"fetch failed after retries: $path"))
        ClosingIterator.empty
      case Some(in) =>
        records(in, gzipped = true, onCorrupt)
    }
  }

  /** Metadata-record JSON payloads of one WAT file (fetch + parse).
    * Per-record error tolerance lives in the JSON layer downstream
    * (cc2dataset/main.py:139-142); frame-level garbage ends the file.
    */
  def metadataPayloads(path: String, conf: Configuration = GraftLocalFileSystem.conf(),
      onCorrupt: Exception => Unit = WatReader.logCorrupt): ClosingIterator[String] = {
    val recs = metadataRecords(path, conf, onCorrupt)
    new ClosingIterator(recs.map(_.payloadString), () => recs.close())
  }

  private def logCorrupt(e: Exception): Unit = logCorruptDefault(e)

  /** Default corruption sink — public so callers composing their own
    * `onCorrupt` (metrics counters, accumulators) can keep the log line.
    */
  def logCorruptDefault(e: Exception): Unit =
    System.err.println(s"[wat] corrupt archive, keeping records read so far: $e")

  // --- frame parsing ---

  /** Read one CRLF (or LF) terminated line as ISO-8859-1; None on EOF. */
  private def readLine(in: InputStream): Option[String] = {
    val sb = new java.lang.StringBuilder(128)
    var c = in.read()
    if (c < 0) return None
    while (c >= 0 && c != '\n') {
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    Some(sb.toString)
  }

  // private[wat]: the single-member ranged path (CcIndex) parses a
  // decompressed member directly, skipping the per-record stream stack
  private[wat] def readRecord(in: InputStream): Option[WarcRecord] = {
    // seek the version line, skipping inter-record blank lines
    var line = readLine(in)
    while (line.exists(l => l.isEmpty)) line = readLine(in)
    line match {
      case Some(v) if v.startsWith("WARC/") =>
        val headers = scala.collection.mutable.Map.empty[String, String]
        var h = readLine(in)
        while (h.exists(_.nonEmpty)) {
          val s = h.get
          val i = s.indexOf(':')
          if (i > 0)
            headers(s.substring(0, i).trim.toLowerCase) = s.substring(i + 1).trim
          h = readLine(in)
        }
        val len = headers.get("content-length").flatMap(s =>
          scala.util.Try(s.toLong).toOption).getOrElse(0L)
        // corrupt/hostile lengths end the file (like frame desync) rather
        // than failing the task: len.toInt on (2^31, 2^32) would wrap
        // negative and throw NegativeArraySizeException
        if (len < 0L || len > MaxArrayBytes) return None
        val payload = new Array[Byte](len.toInt)
        var off = 0
        while (off < payload.length) {
          val n = in.read(payload, off, payload.length - off)
          if (n < 0) throw new EOFException(s"truncated WARC payload at $off/$len")
          off += n
        }
        Some(WarcRecord(headers.toMap, payload))
      case Some(_) => None // frame desync: stop this file
      case None => None
    }
  }
}
