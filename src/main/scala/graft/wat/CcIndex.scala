package graft.wat

import java.io.ByteArrayInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.GraftLocalFileSystem
import graft.sources.{ArchiveDataSource, ArchiveFormat}

/** The columnar-index access path: instead of scanning whole archives
  * (the reference reads entire WATs — cc2dataset/main.py:186-206), a
  * targeted extraction filters the cc-index table RELATIONALLY (its
  * mime/status/host predicates push into the parquet scan), groups the
  * surviving `(warc_filename, offset, length)` ranges by archive
  * region, and fetches ONLY the selected records with positioned
  * reads. CC publishes every record as its own gzip member precisely
  * so this works: a `(offset, length)` slice is a self-contained gzip
  * stream.
  *
  * 100 TB posture: the shuffle moves only `(path, offset, length)`
  * triples for records that SURVIVED the index filter (bytes never
  * shuffle); tasks are bounded by [[fetchHtmlPages]]'s `splitBytes`
  * region split, so a hot archive (every record selected) splits into
  * ~1 GiB regions instead of funneling into one task; each task opens
  * its archive once and reads ranges in offset order (monotone seeks —
  * S3A translates positioned reads into ranged GETs).
  */
object CcIndex {

  /** RFC 1952 member boundaries of a concatenated gzip stream:
    * `(offset, length)` per member, parsed from the real framing —
    * 10-byte fixed header, FEXTRA/FNAME/FCOMMENT/FHCRC optionals,
    * deflate body walked with an `Inflater` (`getRemaining` marks the
    * compressed end), 8-byte CRC32+ISIZE trailer. Truncation or
    * garbage ends the walk with the members already found (fail-soft,
    * like the record reader) — never a throw.
    */
  def memberSpans(b: Array[Byte]): Seq[(Long, Long)] = {
    val spans = Seq.newBuilder[(Long, Long)]
    var off = 0
    var ok = true
    val inf = new java.util.zip.Inflater(true)
    try {
      while (ok && off + 18 <= b.length) {
        val p = headerEnd(b, off, b.length)
        if (p < 0) ok = false
        else {
          try {
            inf.reset()
            inf.setInput(b, p, b.length - p)
            val buf = new Array[Byte](1 << 16)
            var stuck = false
            while (!inf.finished() && !stuck) {
              val n = inf.inflate(buf)
              if (n == 0 && !inf.finished() && inf.needsInput())
                stuck = true // truncated body
            }
            if (stuck || !inf.finished()) ok = false
            else {
              val end = b.length - inf.getRemaining + 8 // CRC32+ISIZE
              if (end > b.length) ok = false
              else {
                spans += ((off.toLong, (end - off).toLong))
                off = end
              }
            }
          } catch {
            case _: java.util.zip.DataFormatException => ok = false
          }
        }
      }
    } finally inf.end()
    spans.result()
  }

  /** RFC 1952 header walk: offset of the first deflate byte, or -1
    * when `[off, end)` does not start a well-formed member header.
    */
  private def headerEnd(b: Array[Byte], off: Int, end: Int): Int = {
    if (off + 10 > end || (b(off) & 0xff) != 0x1f ||
        (b(off + 1) & 0xff) != 0x8b || (b(off + 2) & 0xff) != 8)
      return -1
    val flg = b(off + 3) & 0xff
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA: 2-byte LE length + payload
      if (p + 2 > end) return -1
      p += 2 + ((b(p) & 0xff) | ((b(p + 1) & 0xff) << 8))
    }
    if ((flg & 8) != 0) { // FNAME: NUL-terminated
      while (p < end && b(p) != 0) p += 1
      p += 1
    }
    if ((flg & 16) != 0) { // FCOMMENT: NUL-terminated
      while (p < end && b(p) != 0) p += 1
      p += 1
    }
    if ((flg & 2) != 0) p += 2 // FHCRC
    if (p >= end) -1 else p
  }

  /** One member `[off, off+len)` → its decompressed payload, with a
    * REUSED `Inflater` — the hot ranged path decodes one member per
    * index row, and the whole-file reader's per-record stream stack
    * (BufferedInputStream + GZIPInputStream + iterator) costs more
    * than the inflate itself at that grain. Exact allocation from the
    * trailer's ISIZE, CRC32-verified like GZIPInputStream would (a
    * flipped byte can't yield a silently-wrong record). None on any
    * malformation — hostile ISIZE (> 256 MiB or a lie vs the actual
    * stream) fails closed.
    */
  private[wat] def inflateMember(b: Array[Byte], off: Int, len: Int,
      inf: java.util.zip.Inflater): Option[Array[Byte]] = {
    val end = off + len
    if (end > b.length || len < 18) return None
    val p = headerEnd(b, off, end)
    if (p < 0 || p >= end - 8) return None
    val isize = (b(end - 4) & 0xffL) | ((b(end - 3) & 0xffL) << 8) |
      ((b(end - 2) & 0xffL) << 16) | ((b(end - 1) & 0xffL) << 24)
    if (isize > (256L << 20)) return None // decompression-bomb bound
    val out = new Array[Byte](isize.toInt)
    try {
      inf.reset()
      inf.setInput(b, p, end - 8 - p)
      var at = 0
      while (at < out.length && !inf.finished()) {
        val n = inf.inflate(out, at, out.length - at)
        if (n == 0 && !inf.finished() && inf.needsInput()) return None
        at += n
      }
      // the exact-sized buffer can fill before the inflater consumes
      // the stream-end marker: probe one byte — data means ISIZE lied
      // small, no data + still unfinished means truncation
      if (!inf.finished()) {
        val probe = new Array[Byte](1)
        val n = inf.inflate(probe)
        if (n > 0 || !inf.finished()) return None
      }
      if (at != out.length) return None
      val crc = new java.util.zip.CRC32()
      crc.update(out)
      val want = (b(end - 8) & 0xffL) | ((b(end - 7) & 0xffL) << 8) |
        ((b(end - 6) & 0xffL) << 16) | ((b(end - 5) & 0xffL) << 24)
      if (crc.getValue != want) None else Some(out)
    } catch {
      case _: java.util.zip.DataFormatException => None
    }
  }

  /** One member's bytes → its WARC record via the lean path:
    * [[inflateMember]] + direct header parse, no per-record stream
    * stack. None on malformation.
    */
  private[wat] def memberRecord(b: Array[Byte], off: Int, len: Int,
      inf: java.util.zip.Inflater): Option[WarcRecord] = {
    if (len < 2 || off + len > b.length) return None
    // non-gzip member (a zstd-mirror frame, or plain WARC bytes):
    // fall back to the sniffing stream reader — slower per record,
    // but the ranged path stays TOTAL across the same three framings
    // the whole-file reader accepts
    if ((b(off) & 0xff) != 0x1f || (b(off + 1) & 0xff) != 0x8b) {
      val it = WatReader.records(
        new ByteArrayInputStream(b, off, len), gzipped = true, _ => ())
      try return if (it.hasNext) Some(it.next()) else None
      finally it.close()
    }
    inflateMember(b, off, len, inf).flatMap { dec =>
      try WatReader.readRecord(new ByteArrayInputStream(dec))
      catch { case _: java.io.EOFException => None }
    }
  }

  /** Positioned ranged read through [[WatReader.withRetry]], the
    * ≤10-attempt loop of [[WatReader.fetchAllBytes]] — `readFully(pos,
    * …)` is the Hadoop positioned-read API (a ranged GET on S3A, `pread`
    * on local/HDFS). None after final failure.
    */
  def fetchRange(path: String, offset: Long, length: Int,
      conf: Configuration = GraftLocalFileSystem.conf(),
      attempts: Int = 10, sleepMs: Long = 1000L): Option[Array[Byte]] =
    WatReader.withRetry(attempts, sleepMs) {
      val p = new Path(path)
      val in = p.getFileSystem(conf).open(p)
      try {
        val buf = new Array[Byte](length)
        in.readFully(offset, buf, 0, length)
        buf
      } finally in.close()
    }

  /** Single-record ranged fetch: the index row's `(warc_filename,
    * warc_record_offset, warc_record_length)` → the one WARC record
    * inside that gzip member. None on fetch failure or frame garbage.
    */
  def recordAt(path: String, offset: Long, length: Long,
      conf: Configuration = GraftLocalFileSystem.conf(),
      onCorrupt: Exception => Unit = WatReader.logCorruptDefault)
      : Option[WarcRecord] = {
    if (length <= 0 || length > Int.MaxValue) return None
    fetchRange(path, offset, length.toInt, conf).flatMap { bytes =>
      val it = WatReader.records(new ByteArrayInputStream(bytes),
        gzipped = true, onCorrupt)
      try if (it.hasNext) Some(it.next()) else None
      finally it.close()
    }
  }

  /** Index-driven page fetch: a filtered cc-index frame (columns
    * `warc_filename`, `warc_record_offset`, `warc_record_length`) →
    * `(page_url, html)` rows for exactly the selected records.
    *
    * Plan shape: one narrow projection off the (already filter-pruned)
    * index scan, one shuffle of `(path, offset, length)` triples keyed
    * by `(archive, offset / splitBytes)` — the region split that
    * bounds a task to ~`splitBytes` of one archive even when the
    * filter selects every record of a hot file — then one imperative
    * task per region: open once, positioned reads in offset order.
    * Records that fail to fetch or parse count into the
    * `graft.ccindex.fetch_errors` accumulator and drop (one bad range
    * must not kill a 10⁶-range job).
    */
  def fetchHtmlPages(idx: DataFrame,
      splitBytes: Long = 1L << 30,
      gapBytes: Long = 64L << 10,
      maxReadBytes: Long = 16L << 20): DataFrame = {
    fetchHtmlPages(idx, fetchErrors(idx.sparkSession), splitBytes,
      gapBytes, maxReadBytes)
  }

  /** Per-job count of the index rows a ranged fetch drops. */
  private def fetchErrors(spark: SparkSession) =
    spark.sparkContext.longAccumulator("graft.ccindex.fetch_errors")

  /** Coalesce offset-sorted `(offset, length)` ranges into read
    * groups: a range joins the current group when the seek gap from
    * the group's end is ≤ `gapBytes` and the grown group stays ≤
    * `maxReadBytes`. One positioned read per GROUP — at high
    * selectivity adjacent members merge into streaming-sized reads
    * (the S3A-vectored-IO trick: one GET instead of hundreds), at low
    * selectivity groups stay singletons and only selected bytes move.
    * Returns (readOffset, readLength, members-in-group).
    */
  private[wat] def coalesce(ranges: Seq[(Long, Long)], gapBytes: Long,
      maxReadBytes: Long): Seq[(Long, Long, Seq[(Long, Long)])] = {
    val out = Seq.newBuilder[(Long, Long, Seq[(Long, Long)])]
    var start = -1L
    var end = -1L
    var members = List.empty[(Long, Long)]
    for ((o, l) <- ranges if l > 0) {
      val memberEnd = o + l
      if (start < 0) { start = o; end = memberEnd; members = (o, l) :: Nil }
      else if (o - end <= gapBytes && memberEnd - start <= maxReadBytes) {
        end = math.max(end, memberEnd)
        members = (o, l) :: members
      } else {
        out += ((start, end - start, members.reverse))
        start = o; end = memberEnd; members = (o, l) :: Nil
      }
    }
    if (start >= 0) out += ((start, end - start, members.reverse))
    out.result()
  }

  def fetchHtmlPages(idx: DataFrame,
      readErrors: org.apache.spark.util.LongAccumulator,
      splitBytes: Long, gapBytes: Long, maxReadBytes: Long): DataFrame =
    fetchVerified[String](idx, readErrors, splitBytes, gapBytes,
      maxReadBytes)(r => WarcHtml.htmlOfHttpResponse(r.payload))(
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.STRING))
      .toDF("page_url", "html")

  /** Index-driven RAW record fetch — the generic sibling of
    * [[fetchHtmlPages]] for non-HTML targets (PDFs, images, any
    * archived blob): `(page_url, body)` rows where `body` is the HTTP
    * entity bytes of exactly the selected records, digest-verified.
    * Same plan shape: only locator triples shuffle, one region-bounded
    * task per archive slice, bytes born in the fetch task. Feed the
    * result to any byte-level stage (media triage, the PDF walker,
    * charset decode).
    */
  def fetchRecords(idx: DataFrame,
      splitBytes: Long = 1L << 30,
      gapBytes: Long = 64L << 10,
      maxReadBytes: Long = 16L << 20): DataFrame = {
    fetchVerified[Array[Byte]](idx, fetchErrors(idx.sparkSession),
      splitBytes, gapBytes, maxReadBytes) { r =>
      val b = r.payload
      val s = httpBodyStart(b)
      Some(java.util.Arrays.copyOfRange(b, s, b.length))
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.BINARY))
      .toDF("page_url", "body")
  }

  /** [[fetchRecords]] plus the record's own HTTP ENVELOPE columns —
    * `(page_url, fetch_status, content_type, body)`: status from the
    * status line, content type from the `Content-Type` header
    * (parameters stripped), body the entity bytes. This is the column
    * shape [[WarcSink.writeRecords]] consumes, so a filtered crawl
    * re-packs with each record's original status/mime instead of a
    * hardcoded 200/text-html. Non-HTTP blocks emit status 0, type ""
    * and the whole block as the body. Same plan shape as every ranged
    * fetch: locator triples shuffle, bytes are born in the fetch task.
    */
  def fetchHttpRecords(idx: DataFrame,
      splitBytes: Long = 1L << 30,
      gapBytes: Long = 64L << 10,
      maxReadBytes: Long = 16L << 20): DataFrame = {
    fetchVerified[(Int, String, Array[Byte])](idx, fetchErrors(idx.sparkSession),
      splitBytes, gapBytes, maxReadBytes) { r =>
      val b = r.payload
      val (status, ct, bodyStart) = httpEnvelope(b)
      Some((status, ct,
        java.util.Arrays.copyOfRange(b, bodyStart, b.length)))
    }(org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaInt,
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.BINARY)))
      .select(col("_1").as("page_url"),
        col("_2._1").as("fetch_status"),
        col("_2._2").as("content_type"),
        col("_2._3").as("body"))
  }

  /** The shared imperative core of the ranged fetch: region grouping,
    * coalesced positioned reads, member decode, the response-type gate
    * and digest verification — `conv` turns each VERIFIED record's
    * payload into the output value (None = drop + count).
    */
  private def fetchVerified[A](idx: DataFrame,
      readErrors: org.apache.spark.util.LongAccumulator,
      splitBytes: Long, gapBytes: Long, maxReadBytes: Long)(
      conv: WarcRecord => Option[A])(
      implicit ev: org.apache.spark.sql.Encoder[(String, A)])
      : org.apache.spark.sql.Dataset[(String, A)] = {
    val spark = idx.sparkSession
    import spark.implicits._
    require(splitBytes > 0, s"splitBytes: $splitBytes")
    val confBc = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    // when the index carries content_digest (the WARC-Payload-Digest
    // sha1-base32 the public table publishes), every fetched record is
    // VERIFIED against it — a stale index row (archive rewritten, or an
    // offset pointing at a different-but-well-formed member) drops and
    // counts instead of silently yielding the wrong page
    val digestCol =
      if (idx.columns.contains("content_digest"))
        org.apache.spark.sql.functions.coalesce( // (local coalesce = ranges)
          col("content_digest").cast("string"), lit(""))
      else lit("")
    // the index row's url rides along (when present): the emitted
    // page_url is the CAPTURE the caller asked about — for a resolved
    // cross-url revisit that is the revisit's url, not the original
    // record's header URI; the digest verification is what ties the
    // bytes to the claim
    val urlCol =
      if (idx.columns.contains("url"))
        org.apache.spark.sql.functions.coalesce(
          col("url").cast("string"), lit(""))
      else lit("")
    idx
      .select(col("warc_filename").cast("string").as("f"),
        col("warc_record_offset").cast("long").as("o"),
        col("warc_record_length").cast("long").as("l"),
        digestCol.as("d"), urlCol.as("u"))
      .groupBy(col("f"), floor(col("o") / lit(splitBytes)).as("region"))
      // sort_array on (o, l, d, u) structs orders by offset first — the
      // monotone-seek order the positioned reader wants
      .agg(sort_array(collect_list(
        struct(col("o"), col("l"), col("d"), col("u")))).as("ranges"))
      .select(col("f"), col("ranges"))
      .as[(String, Seq[(Long, Long, String, String)])]
      .flatMap { case (path, members) =>
        // several index rows may point at ONE member (N revisits →
        // one original capture): read + decode the member once, emit
        // one output PER REQUESTING ROW
        val requests = members.groupBy(m => (m._1, m._2)).view
          .mapValues(_.map(m => (m._3, m._4))).toMap
        val ranges = members.map(m => (m._1, m._2)).distinct
        val conf = confBc.value.value
        val p = new Path(path)
        var in: org.apache.hadoop.fs.FSDataInputStream = null
        try in = p.getFileSystem(conf).open(p)
        catch { case scala.util.control.NonFatal(_) => }
        if (in == null) {
          readErrors.add(members.size.toLong) // one error per index row
          Iterator.empty
        } else {
          val stream = in
          val inf = new java.util.zip.Inflater(true)
          var done = false
          def release(): Unit = if (!done) {
            done = true
            try stream.close()
            catch { case scala.util.control.NonFatal(_) => }
            inf.end()
          }
          // Dataset.flatMap drains each row's iterator fully before
          // the next row, so releasing on exhaustion closes this
          // archive's handle as soon as its group is done — a task
          // spanning many (archive, region) rows holds ONE open stream
          // at a time, not one per row until task end. The completion
          // listener stays as the safety net for abandoned iterators
          // (task kill, limit, downstream failure).
          Option(org.apache.spark.TaskContext.get())
            .foreach(_.addTaskCompletionListener[Unit](_ => release()))
          val body = coalesce(ranges, gapBytes, maxReadBytes).iterator.flatMap {
            case (readOff, readLen, groupMembers) =>
              val bytes: Option[Array[Byte]] =
                if (readLen <= 0 || readLen > Int.MaxValue) None
                else try {
                  val buf = new Array[Byte](readLen.toInt)
                  stream.readFully(readOff, buf, 0, readLen.toInt)
                  Some(buf)
                } catch {
                  case e: InterruptedException => throw e
                  case scala.util.control.NonFatal(_) => None
                }
              bytes match {
                case None =>
                  readErrors.add(groupMembers.iterator.map(m =>
                    requests.getOrElse(m, Seq.empty).size.toLong)
                    .sum.max(groupMembers.size.toLong))
                  Iterator.empty
                case Some(buf) =>
                  groupMembers.iterator.flatMap { case (o, l) =>
                    val reqs = requests.getOrElse((o, l), Seq(("", "")))
                    // decode ONCE per member, then satisfy every
                    // requesting index row (digest re-verified per
                    // request — two rows may claim different digests)
                    val rec =
                      if (l > Int.MaxValue) None
                      else memberRecord(buf, (o - readOff).toInt,
                        l.toInt, inf)
                        .filter(_.warcType.equalsIgnoreCase("response"))
                    val digest = rec.map(r => payloadDigest(r.payload))
                    reqs.iterator.flatMap { case (want, u) =>
                      val page = rec.flatMap { r =>
                        if (want.nonEmpty && !digest.contains(want)) None
                        else conv(r).map(a => (
                          if (u.nonEmpty) u
                          else r.headers.getOrElse("warc-target-uri", ""),
                          a))
                      }
                      if (page.isEmpty) readErrors.add(1L)
                      page.iterator
                    }
                  }
              }
          }
          new Iterator[(String, A)] {
            override def hasNext: Boolean = {
              val h = body.hasNext
              if (!h) release() // group exhausted: free the handle now
              h
            }
            override def next(): (String, A) = body.next()
          }
        }
      }
  }

  /** N-ary incremental delta: the rows of `cur` whose
    * `(url, content_digest)` appears in NONE of the history crawls —
    * "what is new or changed since the last K crawls I ingested".
    * `history` is typically the partitioned index filtered with
    * `col("crawl").isin(k1, …, kK)` (the isin lands in
    * PartitionFilters, so only the window's partitions are read — on
    * the real ~90-crawl table the difference between K months and a
    * decade).
    *
    * 100 TB posture: the history side is pre-aggregated to DISTINCT
    * `(url, digest)` pairs first (a combinable agg — a url recrawled
    * in every one of the K prior crawls contributes ONE row to the
    * join, not K, and the K copies combine map-side before they
    * shuffle); the anti-join is then a narrow AQE-splittable equi-join
    * whose build side already sits partitioned on the join keys (the
    * dedup's exchange is reused — no second shuffle of history).
    * Archive bytes move only in the caller's subsequent ranged fetch.
    */
  def deltaAgainstHistory(cur: DataFrame, history: DataFrame)
      : DataFrame =
    cur.join(
      history.select("url", "content_digest")
        .dropDuplicates("url", "content_digest"),
      Seq("url", "content_digest"), "left_anti")

  /** Resolve `revisit` index rows into fetchable targets. Real CC
    * crawls dedup at capture time: a meaningful fraction of index rows
    * are `revisit` records whose payload lives in an EARLIER crawl's
    * `response` record with the same `content_digest` — a targeted
    * extraction that fetches only `response` rows silently loses those
    * captures. This splits `idx` on the `warc/revisit` mime (the
    * public-index convention), keeps response rows as-is, and
    * satisfies each revisit by a DIGEST-KEYED equi-join against
    * `original` (the earlier crawl's index): the revisit keeps its own
    * url/digest, the ranged-read target `(warc_filename, offset,
    * length)` comes from the original capture that actually holds the
    * bytes.
    *
    * 100 TB posture: both join sides are NARROW index frames (url +
    * digest + locator triple — bytes never join); the original side is
    * pre-aggregated to ONE capture per digest via a combinable
    * `min(struct(...))` (no window — identical content captured at
    * many urls must not multiply the join), so the join is an
    * AQE-splittable equi-join on the digest key. Archive bytes move
    * only in the subsequent [[fetchHtmlPages]] call, and the digest
    * verification there holds for resolved rows by construction (the
    * row's digest IS the original payload's digest).
    *
    * The fetched page's `page_url` is the REVISIT's own url (the
    * capture the caller asked about) — the resolved row carries it
    * forward and [[fetchHtmlPages]] emits it; only the BYTES come from
    * the original capture. For the overwhelmingly common same-url
    * revisit the two coincide.
    *
    * A revisit whose digest has no `response` row in `original` cannot
    * be satisfied — it counts into `unresolved` (an accumulator, read
    * after the caller's action) and drops, the same drop-and-account
    * contract as the fetch path's error accumulator.
    */
  def resolveRevisits(idx: DataFrame, original: DataFrame): DataFrame =
    resolveRevisits(idx, original,
      idx.sparkSession.sparkContext
        .longAccumulator("graft.ccindex.unresolved_revisits"))

  def resolveRevisits(idx: DataFrame, original: DataFrame,
      unresolved: org.apache.spark.util.LongAccumulator): DataFrame = {
    val spark = idx.sparkSession
    import spark.implicits._
    val fetchCols = Seq("url", "content_digest", "warc_filename",
      "warc_record_offset", "warc_record_length").map(col)
    val isRevisit = col("content_mime_type") === "warc/revisit"
    val responses = idx.where(!isRevisit).select(fetchCols: _*)
    val originals = original
      .where(col("content_mime_type") =!= "warc/revisit")
      .groupBy(col("content_digest"))
      .agg(min(struct(col("warc_filename"), col("warc_record_offset"),
        col("warc_record_length"))).as("t"))
      .select(col("content_digest"), col("t.warc_filename"),
        col("t.warc_record_offset"), col("t.warc_record_length"))
    val resolved = idx.where(isRevisit)
      .select(col("url"), col("content_digest"))
      // LEFT join so unmatched revisits are visible to the accounting
      // pass below instead of vanishing in an inner join
      .join(originals, Seq("content_digest"), "left")
      .select(col("url"), col("content_digest"),
        col("warc_filename"), col("warc_record_offset"),
        col("warc_record_length"))
      .as[(String, String, String, java.lang.Long, java.lang.Long)]
      .flatMap { case (url, digest, fname, off, len) =>
        if (fname == null) { unresolved.add(1L); Iterator.empty }
        else Iterator.single((url, digest, fname,
          off.longValue(), len.longValue()))
      }
      .toDF("url", "content_digest", "warc_filename",
        "warc_record_offset", "warc_record_length")
    responses.unionByName(resolved)
  }

  /** Build a cc-index-shaped frame over local archive shards — the
    * fixture-side index builder (real CC publishes this table; a
    * private crawl runs exactly this walk once per archive): the
    * [[CcIndexSource]] walk, one row per response/revisit member with
    * the record's target URI. The caller supplies the `mime`/`status`
    * synthesis (the fixture's closed-form rotation) over the URL's doc
    * id; revisit rows keep the `warc/revisit` mime.
    */
  def buildIndex(spark: SparkSession, paths: Seq[String],
      mimeOf: Long => String, statusOf: Long => Int): DataFrame = {
    import spark.implicits._
    walk(spark, paths)
      .select("url", "url_host_name", "revisit", "content_digest",
        "warc_filename", "warc_record_offset", "warc_record_length")
      .as[(String, String, Boolean, String, String, Long, Long)]
      .map { case (url, host, revisit, digest, file, off, len) =>
        val id = docIdOf(url)
        (url, host, if (revisit) "warc/revisit" else mimeOf(id), statusOf(id),
          digest, file, off, len)
      }
      .toDF(IndexColumns: _*)
  }

  /** Index built from each record's OWN HTTP envelope (status line +
    * `Content-Type` header) instead of caller-supplied closed forms —
    * the real-crawl shape: CC's indexer derives `fetch_status` and
    * `content_mime_type` exactly this way. This is what makes the
    * [[WarcSink]] output circle closed without fixture arithmetic:
    * write → `buildIndexFromRecords` → filter relationally → ranged
    * fetch. Revisit records keep the public-index convention (mime
    * `warc/revisit`, digest from the record's `WARC-Payload-Digest`
    * header). A projection of the same walk as [[buildIndex]].
    */
  def buildIndexFromRecords(spark: SparkSession, paths: Seq[String])
      : DataFrame =
    walk(spark, paths).select(IndexColumns.map(col): _*)

  private val IndexColumns = Seq("url", "url_host_name",
    "content_mime_type", "fetch_status", "content_digest", "warc_filename",
    "warc_record_offset", "warc_record_length")

  /** The [[CcIndexSource]] scan: one task per archive, its failures
    * counted in the scan's `corruptArchives` metric.
    */
  private def walk(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format(classOf[CcIndexSource].getName).load(paths: _*)

  /** Minimal HTTP response-envelope parse: `(status, content type,
    * body offset)`. Status is the integer after `HTTP/x.y ` (0 when
    * unparseable); content type is the `Content-Type` header value
    * with parameters stripped (`text/html; charset=x` → `text/html`),
    * lowercased and trimmed, "" when absent; body offset is just past
    * the `CRLF CRLF` terminator. Non-HTTP blocks → `(0, "", 0)` (the
    * whole block is the body, matching [[httpBodyStart]]).
    */
  private[wat] def httpEnvelope(b: Array[Byte]): (Int, String, Int) = {
    val bodyStart = httpBodyStart(b)
    if (bodyStart == 0) return (0, "", 0)
    // status: "HTTP/1.1 NNN ..." — digits after the first space
    var i = 5
    while (i < bodyStart && b(i) != ' ') i += 1
    i += 1
    var status = 0
    var nd = 0
    while (i < bodyStart && b(i) >= '0' && b(i) <= '9' && nd < 4) {
      status = status * 10 + (b(i) - '0'); i += 1; nd += 1
    }
    // exactly three digits or the line is not a status line
    if (nd != 3 || (i < bodyStart && b(i) >= '0' && b(i) <= '9'))
      status = 0
    // headers decode once, only up to the terminator (ISO-8859-1 — the
    // HTTP header charset; never throws on arbitrary bytes)
    val headers = new String(b, 0, bodyStart,
      java.nio.charset.StandardCharsets.ISO_8859_1)
      .toLowerCase(java.util.Locale.ROOT)
    val ct = {
      val probe = "\ncontent-type:"
      val at = headers.indexOf(probe)
      if (at < 0) ""
      else {
        val vs = at + probe.length
        val ve = headers.indexOf('\r', vs) match {
          case -1 => headers.length
          case e  => e
        }
        val v = headers.substring(vs, ve).trim
        val semi = v.indexOf(';')
        (if (semi >= 0) v.substring(0, semi) else v).trim
      }
    }
    (status, ct, bodyStart)
  }

  /** WARC-Payload-Digest over a record block: for `application/http`
    * records the PAYLOAD is the HTTP entity body only — the bytes past
    * the `CRLF CRLF` header terminator, NOT the status line + headers
    * (WARC 1.1 §5.9; this is what the public cc-index/CDXJ
    * `content_digest` column carries, so hashing the whole block would
    * mismatch every real index row and silently drop 100% of fetches).
    * Blocks that are not HTTP messages (no `HTTP/` prefix or no
    * terminator) digest whole — their payload IS the block.
    */
  def payloadDigest(block: Array[Byte]): String = {
    val start = httpBodyStart(block)
    sha1Base32(block, start, block.length - start)
  }

  /** Offset of the HTTP entity body inside an `application/http`
    * block, or 0 when the block is not an HTTP message (then the whole
    * block is the payload).
    */
  private[wat] def httpBodyStart(b: Array[Byte]): Int = {
    if (b.length < 5 || b(0) != 'H' || b(1) != 'T' || b(2) != 'T' ||
        b(3) != 'P' || b(4) != '/') return 0
    var i = 0
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' &&
          b(i + 3) == '\n') return i + 4
      i += 1
    }
    0 // headerless/truncated HTTP: treat the block as the payload
  }

  /** SHA-1 + RFC 4648 base32 (the `sha1:B32…` form CC's index carries
    * in `content_digest`, prefix dropped like the public table does).
    */
  def sha1Base32(b: Array[Byte]): String = sha1Base32(b, 0, b.length)

  def sha1Base32(b: Array[Byte], off: Int, len: Int): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    md.update(b, off, len)
    val d = md.digest()
    val alphabet = "ABCDEFGHIJKLMNOPQRSTUVWXYZ234567"
    val sb = new StringBuilder(32)
    var buf = 0L
    var bits = 0
    for (x <- d) {
      buf = (buf << 8) | (x & 0xffL)
      bits += 8
      while (bits >= 5) {
        sb.append(alphabet(((buf >> (bits - 5)) & 31).toInt))
        bits -= 5
      }
    }
    if (bits > 0) sb.append(alphabet(((buf << (5 - bits)) & 31).toInt))
    sb.toString
  }

  private[wat] def hostOf(url: String): String = {
    val schemeEnd = url.indexOf("://")
    if (schemeEnd < 0) return ""
    val rest = url.substring(schemeEnd + 3)
    val slash = rest.indexOf('/')
    if (slash < 0) rest else rest.substring(0, slash)
  }

  /** doc<id>.<ext> → id; -1 when the URL is not a doc page (the
    * fixture synthesis only — never used on real index rows).
    */
  private[wat] def docIdOf(url: String): Long = {
    val m = "doc(\\d+)\\.[a-z0-9]+$".r.findFirstMatchIn(url)
    m.map(_.group(1).toLong).getOrElse(-1L)
  }
}

/** The cc-index walk as a format of the shared archive scan: a whole-file
  * read and [[CcIndex.memberSpans]] walk per WARC, one row per response
  * or revisit member with a target URI. The HTTP envelope (status, mime)
  * is parsed only when the projection keeps it; a revisit's mime is
  * `warc/revisit` and its digest the `WARC-Payload-Digest` header (the
  * ORIGINAL payload's digest, which `resolveRevisits` joins on).
  */
class CcIndexSource extends ArchiveDataSource(CcIndexSource)

object CcIndexSource extends ArchiveFormat {
  val schema: StructType = StructType.fromDDL(
    "warc_filename string, url string, url_host_name string, " +
    "content_mime_type string, fetch_status int not null, " +
    "content_digest string, warc_record_offset bigint not null, " +
    "warc_record_length bigint not null, revisit boolean not null")

  def decode(path: String, conf: Configuration, required: Set[String],
      onCorrupt: Exception => Unit): ClosingIterator[Array[Any]] = {
    def u(s: String) = UTF8String.fromString(s)
    val wantEnvelope =
      required("content_mime_type") || required("fetch_status")
    WatReader.fetchAllBytes(path, conf) match {
      case None =>
        onCorrupt(new java.io.IOException(s"fetch failed: $path"))
        ClosingIterator.empty
      case Some(bytes) =>
        val p = u(path)
        val inf = new java.util.zip.Inflater(true)
        val rows = CcIndex.memberSpans(bytes).iterator.flatMap {
          case (off, len) =>
            CcIndex.memberRecord(bytes, off.toInt, len.toInt, inf).flatMap { r =>
              val url = r.headers.getOrElse("warc-target-uri", "")
              val revisit = r.warcType.equalsIgnoreCase("revisit")
              val digest =
                if (r.warcType.equalsIgnoreCase("response"))
                  CcIndex.payloadDigest(r.payload)
                else if (revisit)
                  r.headers.getOrElse("warc-payload-digest", "")
                    .stripPrefix("sha1:")
                else ""
              // a response digest is never empty: this drops URI-less
              // records, other record types and digestless revisits
              if (url.isEmpty || digest.isEmpty) None
              else {
                val (status, mime, _) =
                  if (wantEnvelope) CcIndex.httpEnvelope(r.payload)
                  else (0, "", 0)
                Some(Array[Any](p, u(url), u(CcIndex.hostOf(url)),
                  u(if (revisit) "warc/revisit" else mime), status,
                  u(digest), off, len, revisit))
              }
            }.iterator
        }
        new ClosingIterator(rows, () => inf.end())
    }
  }
}
