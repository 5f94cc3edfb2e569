package graft.wat

import java.io.{BufferedReader, ByteArrayInputStream, IOException, InputStreamReader}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{ArchiveDataSource, ArchiveFormat}

/** CDXJ — the TEXT form of the web-archive index (pywb's CDXJ spec;
  * CC publishes the same records as `cc-index/collections/.../indexes/
  * cdx-*.gz`): one line per capture,
  *
  *   `<SURT key> <14-digit timestamp> <JSON block>`
  *
  * with the JSON carrying url / mime / status / digest / length /
  * offset / filename as STRINGS. SURT ordering makes the file
  * range-seekable by domain; the JSON block carries exactly the
  * columns the ranged fetch ([[CcIndex.fetchHtmlPages]]) needs — a
  * CDXJ shard set IS a cc-index without a SQL engine in front.
  */
object Cdxj {

  final case class CdxjRow(surtKey: String, timestamp: String,
      url: String, mime: String, status: Int, digest: String,
      filename: String, offset: Long, length: Long,
      languages: String, encoding: String)

  /** Shared parser — `ObjectMapper` construction is heavyweight and
    * `readTree` is thread-safe, so one instance serves every line of a
    * ~300M-line monthly index instead of being rebuilt per line.
    */
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** ASCII '0'-'9' only: `Char.isDigit` admits Unicode digit classes
    * (Arabic-Indic etc.) that `toLong` would then throw on.
    */
  private def asciiDigits(s: String): Boolean =
    s.nonEmpty && s.forall(c => c >= '0' && c <= '9')

  /** One line → Some(row); malformed lines (bad field count, broken
    * JSON, non-numeric or Long-overflowing offset/length/status) →
    * None — a corrupt line in a 300M-line index must drop, not kill
    * the shard. The numeric conversions sit INSIDE the catch: a
    * 20+-digit all-ASCII-digit offset overflows Long and throws
    * NumberFormatException, which must be a dropped line too.
    */
  def parseLine(line: String): Option[CdxjRow] = {
    val s1 = line.indexOf(' ')
    if (s1 <= 0) return None
    val s2 = line.indexOf(' ', s1 + 1)
    if (s2 <= s1 + 1) return None
    val key = line.substring(0, s1)
    val ts = line.substring(s1 + 1, s2)
    if (ts.length != 14 || !asciiDigits(ts)) return None
    val json = line.substring(s2 + 1)
    try {
      val node = mapper.readTree(json)
      if (node == null || !node.isObject) return None
      def str(f: String): String = {
        val v = node.get(f)
        if (v == null || !v.isTextual) "" else v.asText()
      }
      val url = str("url")
      if (url.isEmpty) return None
      val offset = str("offset")
      val length = str("length")
      val status = str("status")
      if (!asciiDigits(offset) || !asciiDigits(length)) return None
      Some(CdxjRow(key, ts, url, str("mime"),
        if (asciiDigits(status)) status.toInt else 0,
        str("digest"), str("filename"), offset.toLong, length.toLong,
        str("languages"), str("encoding")))
    } catch {
      case _: com.fasterxml.jackson.core.JacksonException => None
      case _: NumberFormatException => None
    }
  }

  /** CDXJ shards (gzip or plain text, one task per shard like every
    * archive source) → the cc-index frame shape
    * ([[CcIndex.fetchHtmlPages]]-ready: `warc_filename` /
    * `warc_record_offset` / `warc_record_length` plus the relational
    * filter columns). Line-level error tolerance via [[parseLine]];
    * shard-level read failures (a failed fetch, a cut gzip stream) end
    * the shard, keep its lines read so far and count in the scan's
    * `corruptArchives` metric.
    */
  def indexFrame(spark: SparkSession, paths: Seq[String]): DataFrame =
    shardScan(spark, classOf[CdxjSource], paths)

  private def shardScan(spark: SparkSession, provider: Class[_],
      paths: Seq[String]): DataFrame =
    spark.read.format(provider.getName).load(paths: _*).drop("shard_path")

  /** The (shard_path, index columns…) schema both text-index formats
    * scan into; everything after the path is the public frame.
    */
  private[wat] val ShardSchema: StructType = StructType.fromDDL(
    "shard_path string, url_surtkey string, fetch_time string, " +
    "url string, content_mime_type string, fetch_status int not null, " +
    "content_digest string, warc_filename string, " +
    "warc_record_offset bigint not null, " +
    "warc_record_length bigint not null, content_languages string, " +
    "content_charset string")

  /** The lines of one index shard (gzip, zstd or plain text), fetched
    * whole. A failed fetch or a cut compressed stream calls `onCorrupt`
    * once and ends the shard; the lines read before it are kept.
    */
  private[wat] def shardLines(path: String, conf: Configuration,
      onCorrupt: Exception => Unit): ClosingIterator[String] =
    WatReader.fetchAllBytes(path, conf) match {
      case None =>
        onCorrupt(new IOException(s"fetch failed: $path"))
        ClosingIterator.empty
      case Some(bytes) =>
        // opened on the first read, so a cut gzip header ends the shard
        // through the same catch as a cut body
        var reader: BufferedReader = null
        val lines = Iterator.continually {
          try {
            if (reader == null)
              reader = new BufferedReader(new InputStreamReader(
                WatReader.decompressed(new ByteArrayInputStream(bytes)),
                "UTF-8"), 1 << 16)
            reader.readLine()
          } catch { case e: IOException => onCorrupt(e); null }
        }.takeWhile(_ != null)
        new ClosingIterator(lines, () => if (reader != null) reader.close())
    }

  // ------------------------------------------------------------------
  // Legacy space-separated CDX (the pre-CDXJ text form: OpenWayback /
  // pywb "CDX-9"/"CDX-11" files). Marginal for CC itself (CDXJ since
  // 2015) but the ecosystem's older web archives publish exactly this;
  // parsed into the SAME frame shape so the identical ranged fetch
  // consumes either index form.
  // ------------------------------------------------------------------

  /** The classic 11-field order (` CDX N b a m s k r M S V g`):
    * N=massaged url (SURT key), b=14-digit timestamp, a=original url,
    * m=mime, s=status, k=digest, r=redirect, M=robot meta,
    * S=compressed record length, V=offset, g=archive filename.
    * Headerless files assume this, the dominant legacy layout.
    */
  val DefaultCdxFields: IndexedSeq[String] =
    "N b a m s k r M S V g".split(' ').toIndexedSeq

  /** Parse a CDX header line (` CDX <letters...>`) into its field
    * order; None when the line is not a header. The leading space is
    * the format's own magic — it sorts before every key.
    */
  def parseCdxHeader(line: String): Option[IndexedSeq[String]] =
    if (line == null || !line.startsWith(" CDX")) None
    else Some(line.substring(4).trim.split("\\s+").toIndexedSeq
      .filter(_.nonEmpty))

  /** One legacy CDX line under a field order → Some(row); the same
    * fail-soft contract as [[parseLine]]: wrong token count, missing
    * url/filename, malformed timestamp or non-numeric offset all drop.
    * `-` is the format's null and reads as absent. Files without an
    * `S` field (CDX-9) yield `length = -1` — unknown until
    * [[legacyIndexFrame]]'s next-offset fill.
    */
  def parseCdxLine(line: String, fields: IndexedSeq[String])
      : Option[CdxjRow] = {
    if (line == null || line.isEmpty || line.startsWith(" CDX"))
      return None
    val toks = line.split(' ')
    if (toks.length != fields.length) return None
    def f(name: String): String = {
      val i = fields.indexOf(name)
      if (i < 0) "" else {
        val v = toks(i)
        if (v == "-") "" else v
      }
    }
    val url = f("a")
    val ts = f("b")
    val off = f("V")
    val g = f("g")
    if (url.isEmpty || g.isEmpty) return None
    if (ts.length != 14 || !asciiDigits(ts)) return None
    if (!asciiDigits(off)) return None
    val lenStr = f("S")
    val status = f("s")
    try {
      Some(CdxjRow(f("N"), ts, url, f("m"),
        if (asciiDigits(status)) status.toInt else 0,
        f("k").stripPrefix("sha1:"), g, off.toLong,
        if (asciiDigits(lenStr)) lenStr.toLong else -1L,
        "", "")) // legacy CDX carries no languages/charset columns
    } catch { case _: NumberFormatException => None }
  }

  /** Render one capture as a CDX-11 line (writer twin of
    * [[parseCdxLine]] under [[DefaultCdxFields]]).
    */
  def formatCdxLine(url: String, timestamp: String, mime: String,
      status: Int, digest: String, filename: String, offset: Long,
      length: Long): String = {
    def nn(s: String) = if (s == null || s.isEmpty) "-" else s
    s"${graft.ext.Surt.surtKey(url)} $timestamp $url ${nn(mime)} " +
      s"$status ${nn(digest)} - - $length $offset $filename"
  }

  /** Legacy CDX shards → the same cc-index frame shape as
    * [[indexFrame]], ranged-fetch-ready. Header-driven field order
    * (headerless files assume CDX-11); line-level fail-soft, shard-level
    * failures as in [[indexFrame]].
    *
    * CDX-9 files carry no record length — those rows are filled with
    * the NEXT capture's offset within the same archive (the pywb
    * convention: members are contiguous, so next-offset − offset is
    * the member length); the LAST capture per archive has no next
    * offset and keeps `warc_record_length = -1`, which the ranged
    * fetch skips — a caller that must have it reads the archive's
    * file size and patches the one row, a policy decision this reader
    * does not make silently. The fill materializes the shard's parsed
    * rows (the raw bytes are already whole in memory on this path);
    * CDX-11 shards stream like CDXJ.
    */
  def legacyIndexFrame(spark: SparkSession, paths: Seq[String])
      : DataFrame =
    shardScan(spark, classOf[CdxSource], paths)

  /** Header-driven legacy CDX rows of one shard's lines. */
  private[wat] def legacyRows(lines: Iterator[String]): Iterator[CdxjRow] = {
    val first = if (lines.hasNext) Some(lines.next()) else None
    val (fields, head) = first.flatMap(parseCdxHeader) match {
      case Some(f) => (f, Iterator.empty)
      case None    => (DefaultCdxFields, first.iterator)
    }
    val rows = (head ++ lines).flatMap(l => parseCdxLine(l, fields).iterator)
    // CDX-9 next-offset fill: materialize, group per archive, sort by
    // offset, subtract
    if (fields.contains("S")) rows
    else rows.toVector.groupBy(_.filename).valuesIterator.flatMap { g =>
      val s = g.sortBy(_.offset)
      s.indices.iterator.map { i =>
        val r = s(i)
        if (i + 1 < s.length) r.copy(length = s(i + 1).offset - r.offset)
        else r // last per archive: unknown, stays -1
      }
    }
  }

  /** Patch the CDX-9 `-1` tail lengths: the last capture per archive
    * has no next offset, so its member runs to the end of the
    * archive — `length = file size − offset`. One `getFileStatus` per
    * DISTINCT archive that still carries a `-1` row (executed on the
    * executors over the distinct-filename frame, never per row), then
    * a broadcast-sized join back. Frames with no `-1` rows pass
    * through with zero stat calls. This is the policy decision
    * [[legacyIndexFrame]] deliberately does not make silently — here
    * the caller asked for it.
    */
  def fillTailLengths(frame: DataFrame, archiveDir: String = "")
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val spark = frame.sparkSession
    import spark.implicits._
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val sizes = frame.where(col("warc_record_length") === -1L)
      .select(col("warc_filename").cast("string")).distinct()
      .as[String]
      .mapPartitions { it =>
        val conf = confBc.value.value
        it.flatMap { name =>
          val p =
            if (archiveDir.isEmpty) new org.apache.hadoop.fs.Path(name)
            else new org.apache.hadoop.fs.Path(archiveDir, name)
          try Iterator.single(
            (name, p.getFileSystem(conf).getFileStatus(p).getLen))
          catch { // unreadable archive: the row keeps its -1
            case scala.util.control.NonFatal(_) => Iterator.empty
          }
        }
      }
      .toDF("warc_filename", "archive_size")
    frame.join(broadcast(sizes), Seq("warc_filename"), "left")
      .withColumn("warc_record_length",
        when(col("warc_record_length") === -1L &&
            col("archive_size").isNotNull,
          col("archive_size") - col("warc_record_offset"))
          .otherwise(col("warc_record_length")))
      .drop("archive_size")
  }

  /** One `cluster.idx` entry: the FIRST `<surt> <ts>` key of a
    * gzip-compressed block of CDXJ lines, plus where that block lives
    * (`shard`, byte `offset`, compressed `length`). CC pairs its
    * `cdx-*.gz` shards with exactly this secondary index so a domain
    * lookup binary-searches ONE small file and ranged-reads only the
    * matching compressed blocks — the alternative is decompressing a
    * ~300M-line monthly index to find one domain's rows.
    */
  final case class IdxBlock(firstKey: String, shard: String,
      offset: Long, length: Long)

  /** Render a cluster.idx line (writer twin):
    * `<surt> <ts>\t<shard>\t<offset>\t<length>\t<seq>`.
    */
  def formatClusterLine(b: IdxBlock, seq: Long): String =
    s"${b.firstKey}\t${b.shard}\t${b.offset}\t${b.length}\t$seq"

  /** Parse one cluster.idx line; malformed lines drop (same fail-soft
    * contract as [[parseLine]]).
    */
  def parseClusterLine(line: String): Option[IdxBlock] = {
    val parts = line.split('\t')
    if (parts.length < 4) return None
    try {
      val off = parts(2)
      val len = parts(3)
      if (!off.forall(c => c >= '0' && c <= '9') || off.isEmpty ||
          !len.forall(c => c >= '0' && c <= '9') || len.isEmpty)
        return None
      Some(IdxBlock(parts(0), parts(1), off.toLong, len.toLong))
    } catch { case _: NumberFormatException => None }
  }

  /** The blocks that can contain a key starting with `prefix`, by
    * binary search over the (sorted) cluster.idx entries. Block `i`
    * covers the key range `[k_i, k_{i+1})`: it is selected iff
    * `k_i < prefix + U+FFFF` (starts before the prefix range ends) and
    * `k_{i+1} > prefix` (reaches into it) — the boundary block whose
    * first key precedes the prefix is included, because the range can
    * start mid-block. Two O(log n) searches; the scan never touches
    * blocks outside `[lo, hi]`.
    */
  def selectBlocks(blocks: IndexedSeq[IdxBlock], prefix: String)
      : Seq[IdxBlock] = {
    if (blocks.isEmpty) return Nil
    val upper = prefix + '\uffff'
    // lo: the last block whose first key <= prefix (0 when none — the
    // range can only start at the first block)
    var l = 0
    var r = blocks.length - 1
    var lo = 0
    while (l <= r) {
      val m = (l + r) >>> 1
      if (blocks(m).firstKey <= prefix) { lo = m; l = m + 1 }
      else r = m - 1
    }
    // hi: the last block whose first key < upper (none → no matches)
    l = 0; r = blocks.length - 1
    var hi = -1
    while (l <= r) {
      val m = (l + r) >>> 1
      if (blocks(m).firstKey < upper) { hi = m; l = m + 1 }
      else r = m - 1
    }
    if (hi < lo) Nil else blocks.slice(lo, hi + 1)
  }

  /** Read a cluster.idx file (driver-side — one line per ~thousands-
    * of-lines block, small by construction: CC's monthly one is tens
    * of MB for a 300M-line index).
    */
  def readClusterIdx(path: String,
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration())
      : IndexedSeq[IdxBlock] = {
    val bytes = WatReader.fetchAllBytes(path, conf).getOrElse(
      throw new java.io.IOException(s"cluster.idx fetch failed: $path"))
    val reader = new java.io.BufferedReader(new java.io.InputStreamReader(
      WatReader.decompressed(new java.io.ByteArrayInputStream(bytes)),
      "UTF-8"))
    try Iterator.continually(reader.readLine()).takeWhile(_ != null)
      .flatMap(l => parseClusterLine(l).iterator).toIndexedSeq
    finally reader.close()
  }

  /** Targeted SURT-prefix lookup: binary-search the cluster.idx,
    * ranged-read ONLY the matching compressed blocks (offset-sorted
    * positioned reads, gap-coalesced — the same S3A-vectored shape as
    * [[CcIndex.fetchHtmlPages]]), parse their lines, keep the prefix's
    * rows. Shards outside the selected blocks are NEVER OPENED —
    * against a monthly index a domain query reads a few blocks instead
    * of every shard. Emits the same frame shape as [[indexFrame]].
    */
  def lookupPrefix(spark: SparkSession, clusterIdxPath: String,
      shardDir: String, prefix: String,
      gapBytes: Long = 64L << 10, maxReadBytes: Long = 16L << 20)
      : DataFrame = {
    import spark.implicits._
    val blocks = selectBlocks(readClusterIdx(clusterIdxPath,
      spark.sparkContext.hadoopConfiguration), prefix)
    val byShard = blocks.groupBy(_.shard).toSeq.sortBy(_._1)
      .map { case (shard, bs) =>
        (new org.apache.hadoop.fs.Path(shardDir, shard).toString,
          bs.map(b => (b.offset, b.length)).sortBy(_._1))
      }
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val readErrors =
      spark.sparkContext.longAccumulator("graft.cdxj.lookup_errors")
    spark.createDataset(byShard)
      .repartition(math.max(1, byShard.size)) // one task per shard group
      .flatMap { case (path, ranges) =>
        val conf = confBc.value.value
        val inf = new java.util.zip.Inflater(true)
        val rows = CcIndex.coalesce(ranges, gapBytes, maxReadBytes)
          .iterator.flatMap { case (readOff, readLen, members) =>
            val bytes =
              if (readLen <= 0 || readLen > Int.MaxValue) None
              else CcIndex.fetchRange(path, readOff, readLen.toInt, conf)
            bytes match {
              case None =>
                readErrors.add(members.size.toLong); Iterator.empty
              case Some(buf) =>
                members.iterator.flatMap { case (o, l) =>
                  CcIndex.inflateMember(buf, (o - readOff).toInt,
                      l.toInt, inf) match {
                    case None => readErrors.add(1L); Iterator.empty
                    case Some(dec) =>
                      new String(dec, "UTF-8").linesIterator
                        .flatMap(ln => parseLine(ln).iterator)
                        .filter(_.surtKey.startsWith(prefix))
                        .map(r => (r.surtKey, r.timestamp, r.url,
                          r.mime, r.status, r.digest, r.filename,
                          r.offset, r.length, r.languages, r.encoding))
                  }
                }
            }
          }
        new ClosingIterator(rows, () => inf.end())
      }
      .toDF("url_surtkey", "fetch_time", "url", "content_mime_type",
        "fetch_status", "content_digest", "warc_filename",
        "warc_record_offset", "warc_record_length",
        "content_languages", "content_charset")
  }

  /** Render one capture as a CDXJ line (writer twin). */
  def formatLine(url: String, timestamp: String, mime: String,
      status: Int, digest: String, filename: String, offset: Long,
      length: Long, languages: String = "", encoding: String = "")
      : String = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    graft.ext.Surt.surtKey(url) + " " + timestamp + " " +
      s"""{"url": "${esc(url)}", "mime": "${esc(mime)}", """ +
      s""""status": "$status", "digest": "${esc(digest)}", """ +
      s""""length": "$length", "offset": "$offset", """ +
      (if (languages.nonEmpty) s""""languages": "${esc(languages)}", """
       else "") +
      (if (encoding.nonEmpty) s""""encoding": "${esc(encoding)}", """
       else "") +
      s""""filename": "${esc(filename)}"}"""
  }
}

/** The text-index shard formats of the shared archive scan: one row of
  * [[Cdxj.ShardSchema]] per accepted line of [[Cdxj.shardLines]] —
  * CDXJ ([[Cdxj.parseLine]]) or legacy CDX ([[Cdxj.legacyRows]]).
  */
sealed abstract class IndexShardFormat(
    rows: Iterator[String] => Iterator[Cdxj.CdxjRow]) extends ArchiveFormat {
  def schema: StructType = Cdxj.ShardSchema

  def decode(path: String, conf: Configuration, required: Set[String],
      onCorrupt: Exception => Unit): ClosingIterator[Array[Any]] = {
    def u(s: String) = UTF8String.fromString(s)
    val p = u(path)
    val lines = Cdxj.shardLines(path, conf, onCorrupt)
    new ClosingIterator(rows(lines).map(r => Array[Any](p, u(r.surtKey),
      u(r.timestamp), u(r.url), u(r.mime), r.status, u(r.digest),
      u(r.filename), r.offset, r.length, u(r.languages), u(r.encoding))),
      () => lines.close())
  }
}

class CdxjSource extends ArchiveDataSource(CdxjSource)
object CdxjSource
    extends IndexShardFormat(_.flatMap(l => Cdxj.parseLine(l).iterator))

class CdxSource extends ArchiveDataSource(CdxSource)
object CdxSource extends IndexShardFormat(Cdxj.legacyRows)
