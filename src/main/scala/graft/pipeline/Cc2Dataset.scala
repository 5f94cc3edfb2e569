package graft.pipeline

import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.UUID
import java.util.zip.GZIPInputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{call_function, col, count, lit, xxhash64}

import graft.functions.GraftFunctions
import graft.ops.{Dedup, PartMerge, Shuffle}
import graft.wat.WatExtract

/** Pipeline configuration — the reference's `cc2dataset(...)` keyword
  * surface (cc2dataset/main.py:336-349, README.md:54-68), plus `seed`
  * (the sampling and in-file row order). Multipart parts run one after
  * another with a session restart before each, as in the reference;
  * each archive's fetch-or-stream decode is the reader's own choice
  * (`WatReader.archiveRecords`), not a setting.
  */
final case class Cc2Config(
    outputPath: String,
    documentType: String = "image",
    watIndexCount: Option[Int] = Some(1),
    watCount: Option[Int] = Some(100),
    multipart: Option[Int] = None,
    shuffle: Boolean = true,
    resume: Option[String] = None,
    seed: Long = 42L,
    sourceCcProtocol: String = "s3")

/** Top-level orchestration (C1–C5, SURVEY.md §2.10): single-part and
  * multipart jobs, `_SUCCESS`-based resume, manifest, job-id pathing, and
  * a session-restart factory between parts (memory hygiene, the
  * reference's HISTORY 1.3.0 fix).
  */
object Cc2Dataset {

  /** Dedup → bucketed parquet write of `Shuffle.outputPartitions(watCount)`
    * files → observed row count (cc2dataset/main.py:254-266).
    *
    * The output contract is the reference's: F = `max(256, n/500)`
    * files, unique on `uid`, shuffled, `_SUCCESS`, overwrite. It is
    * reached with two exchanges and no re-read, where the reference
    * runs three exchanges and re-reads the output to count it:
    *  - dedup keeps its map-side partial aggregate (one hash exchange);
    *  - `repartition(P, uid)` with P a divisor of F
    *    ([[Shuffle.writeTasks]]), so each of the F buckets
    *    `pmod(hash(uid), F)` lands whole in one of P tasks, and every
    *    task writes its F/P bucket files. The cost of the write is per
    *    task (each deserializes the session's Hadoop configuration), not
    *    per file, so a few tasks rolling many files beat one task per
    *    file;
    *  - file membership is the bucket, and uid is md5(alt+url), so files
    *    are uniform samples of the output; with `shuffle` the seed orders
    *    the rows within each file by `xxhash64(uid, seed)`;
    *  - each task sorts by the writer's own bucket-id expression
    *    (`graft_bucket_id`), which satisfies the bucketed writer's
    *    required ordering, so the writer adds no second sort;
    *  - the returned count is observed on the written rows
    *    (`Dataset.observe`, collected once per partition in the write's
    *    result stage), not re-read from the output.
    * `bucketBy` needs a catalog table, so the write registers an
    * external table over `outputPath` under a unique name and drops it
    * afterwards, which leaves the files in place.
    */
  def dedupRepartitionCount(df: DataFrame, outputPath: String, watCount: Int,
      shuffle: Boolean, seed: Long): Long = {
    val spark = df.sparkSession
    val files = Shuffle.outputPartitions(watCount)
    // a cold cluster reports defaultParallelism 2 before its executors
    // register: the archive count keeps crawl-scale runs at P = F
    val tasks = Shuffle.writeTasks(files,
      math.max(watCount, spark.sparkContext.defaultParallelism))
    val uid = col("uid")
    GraftFunctions.register(spark)
    val bucket = call_function(GraftFunctions.BucketIdName, uid, lit(files))
    val order = if (shuffle) Seq(bucket, xxhash64(uid, lit(seed))) else Seq(bucket)
    val written = Observation()
    val out = Dedup.byKey(df, Seq("uid"))
      .repartition(tasks, uid)
      .observe(written, count(lit(1)).as("rows"))
      .sortWithinPartitions(order: _*)
    val table = s"$OutputTablePrefix${UUID.randomUUID().toString.replace("-", "")}"
    try out.write.mode("overwrite").format("parquet")
      .bucketBy(files, "uid").option("path", outputPath).saveAsTable(table)
    finally spark.sql(s"DROP TABLE IF EXISTS `$table`")
    written.get("rows").asInstanceOf[Long]
  }

  /** Name prefix of the transient catalog table each output write
    * registers. The name is unique per write, so two writes that share a
    * catalog (two jobs in one application) never drop each other's table.
    */
  val OutputTablePrefix = "graft_out_"

  /** C1: one part end-to-end (cc2dataset/main.py:269-287). */
  def processOnePart(spark: SparkSession, watFiles: Seq[String],
      outputPath: String, docType: String, shuffle: Boolean, seed: Long): Long = {
    val links = WatExtract.fromPaths(spark, watFiles, docType)
    dedupRepartitionCount(links.toDF(), outputPath, watFiles.size, shuffle, seed)
  }

  /** C2: resume-aware multipart loop + merge (cc2dataset/main.py:299-329).
    * Parts run strictly one after another, each on a restarted session
    * (C3), and are written unshuffled; the merged output gets the global
    * dedup + shuffle.
    */
  def processMultiPart(sparkFactory: () => SparkSession, watFiles: Seq[String],
      outputPath: String, docType: String, multipart: Int, shuffle: Boolean,
      seed: Long, resume: Boolean): Long = {
    val chunkSize = math.ceil(watFiles.size.toDouble / multipart).toInt
    val chunks = watFiles.grouped(chunkSize).toSeq
    val startAt =
      if (resume) PartMerge.lastSuccessfulPart(sparkFactory(), outputPath) + 1
      else 0
    chunks.zipWithIndex.drop(startAt).foreach { case (chunk, i) =>
      val spark = restartSession(sparkFactory) // C3
      processOnePart(spark, chunk, s"$outputPath/part_$i", docType,
        shuffle = false, seed)
    }
    val spark = restartSession(sparkFactory)
    val all = PartMerge.unionParts(spark,
      chunks.indices.map(i => s"$outputPath/part_$i"))
    dedupRepartitionCount(all, s"$outputPath/merged", watFiles.size, shuffle, seed)
  }

  /** Continuous intake: stream-extract every archive matching `globs`
    * (each exactly once, new arrivals per micro-batch) into
    * `{output}/raw` with a checkpoint, to be finished by
    * [[mergeStreamed]] — the reference's multipart shape running as a
    * live pipeline instead of a batch loop. The caller owns the
    * returned query's lifecycle.
    */
  def startStreamingIntake(spark: SparkSession, globs: Seq[String],
      docType: String, outputPath: String,
      maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    val opts =
      if (maxFilesPerTrigger > 0)
        Map("max_files_per_trigger" -> maxFilesPerTrigger.toString)
      else Map.empty[String, String]
    startIntakeSink(WatExtract.extractStream(spark, globs, docType, opts),
      outputPath)
  }

  /** Shared intake sink: both discovery modes land in `{output}/raw`
    * with one checkpoint, so [[mergeStreamed]] works identically and a
    * sink change cannot diverge between them.
    */
  private def startIntakeSink(links: org.apache.spark.sql.Dataset[graft.model.DocLink],
      outputPath: String): org.apache.spark.sql.streaming.StreamingQuery =
    links.toDF().writeStream
      .outputMode("append").format("parquet")
      .option("path", s"$outputPath/raw")
      .option("checkpointLocation", s"$outputPath/_checkpoint")
      .start()

  /** [[startStreamingIntake]] with MANIFEST-notification discovery
    * (WatExtract.extractStreamFromManifests): the stream watches a
    * small manifest directory instead of re-listing the archive prefix
    * every trigger — at crawl scale the 5M-object relist dominates
    * discovery cost, while crawl publishers already drop `wat.paths`
    * manifests. Same sink/checkpoint/merge contract as the glob form.
    */
  def startManifestIntake(spark: SparkSession, manifestGlob: String,
      docType: String, outputPath: String,
      maxFilesPerTrigger: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    startIntakeSink(
      WatExtract.extractStreamFromManifests(spark, manifestGlob, docType,
        maxFilesPerTrigger),
      outputPath)

  /** The batch tail over everything the intake has landed so far:
    * [[dedupRepartitionCount]] into `{output}/merged` (identical
    * semantics to the multipart merge).
    */
  def mergeStreamed(spark: SparkSession, outputPath: String, watCount: Int,
      shuffle: Boolean, seed: Long): Long =
    dedupRepartitionCount(spark.read.parquet(s"$outputPath/raw"),
      s"$outputPath/merged", watCount, shuffle, seed)

  /** C3: stop any active session, rebuild via the injected factory
    * (cc2dataset/main.py:367-371).
    */
  def restartSession(factory: () => SparkSession): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    factory()
  }

  /** C4: validate, suffix the job-id path, write the manifest (or read it
    * back on resume), dispatch single/multi part
    * (cc2dataset/main.py:336-387). Returns (jobOutputPath, outputRows).
    */
  def run(config: Cc2Config, watFiles: Seq[String],
      sparkFactory: () => SparkSession): (String, Long) = {
    require(config.resume.isEmpty || config.multipart.isDefined,
      "resume requires multipart") // main.py:352-353
    val jobPath = config.resume.getOrElse {
      val jobId = LocalDateTime.now()
        .format(DateTimeFormatter.ofPattern("yyyy-MM-dd-HH-mm-ss"))
      s"${config.outputPath.stripSuffix("/")}/$jobId"
    }
    val spark = sparkFactory()
    val wats = config.resume match {
      case Some(_) => PartMerge.readManifest(spark, jobPath)
      case None =>
        PartMerge.writeManifest(spark, jobPath, watFiles)
        watFiles
    }
    val n = config.multipart match {
      case None | Some(1) =>
        processOnePart(spark, wats, jobPath, config.documentType,
          config.shuffle, config.seed)
      case Some(m) =>
        processMultiPart(sparkFactory, wats, jobPath, config.documentType, m,
          config.shuffle, config.seed, resume = config.resume.isDefined)
    }
    (jobPath, n)
  }

  // --- index discovery (S3–S5, cc2dataset/main.py:209-251) ---

  /** S3: crawl-index discovery — glob `<root>/&#42;/wat.paths.gz` on any
    * Hadoop filesystem (the reference's s3 variant,
    * cc2dataset/main.py:209-228; its http variant needs an external
    * listing page and is driver-environment specific). Results are SORTED
    * so that CC's date-stamped crawl names put the newest crawls last —
    * the invariant readWatIndexFiles' tail-slice (shardCount) depends on.
    */
  def discoverCrawlIndexes(spark: SparkSession, rootGlob: String): Seq[String] = {
    val p = new Path(rootGlob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).map(_.toSeq.map(_.getPath.toString).sorted)
      .getOrElse(Seq.empty)
  }

  /** S3 http variant + X6 (cc2dataset/main.py:215-227): scrape the
    * get-started listing page, keep the `<li>s3://commoncrawl/crawl-data/`
    * lines, rewrite them to https data URLs, strip `<wbr>` soft-break
    * tags, and append `/wat.paths.gz`. Pure so the rewrite is testable
    * without a network; order is the page's order, exactly as the
    * reference returns it (its tail-slice then applies to that order).
    * This is the credential-free onboarding path — no AWS account needed.
    */
  def parseCrawlListingPage(content: String): Seq[String] = {
    // anchored EXTRACTION, not the reference's replace-chain
    // (main.py:222-233): on a junk-prefixed line the replace chain
    // fabricates a garbage-prefixed URL that fails only at fetch time
    // (found by the hostile-HTML fuzz); the regex emits either a
    // well-formed index url or nothing. Identical output on the real
    // page's well-formed lines (parity pinned by the local-http spec).
    val crawlRef = "<li>s3://commoncrawl/(crawl-data/[^<\\s\"]+)".r
    content.linesIterator
      .map(_.replace("[WARC] ", "").replace("<wbr>", ""))
      .filter(_.contains("<li>s3://commoncrawl/crawl-data/"))
      // ALL matches per physical line, not the first: a minified page
      // puts many <li> entries on one line, and first-match-only would
      // silently shrink discovery. Anchoring on the <li> prefix also
      // stops a stray non-list-item mention earlier in the line from
      // shadowing the real entries. Order is the page's order; dedup
      // keeps the first occurrence (real pages list each crawl once).
      .flatMap(l => crawlRef.findAllMatchIn(l).map(_.group(1)))
      .map(d => "https://data.commoncrawl.org/" + d.stripSuffix("/") +
        "/wat.paths.gz")
      .toSeq.distinct
  }

  /** Fetch + parse the crawl listing page over http(s). */
  def discoverCrawlIndexesHttp(
      pageUrl: String = "https://commoncrawl.org/the-data/get-started/"): Seq[String] = {
    val conn = java.net.URI.create(pageUrl).toURL.openConnection()
    conn.setConnectTimeout(30000)
    conn.setReadTimeout(60000)
    val in = conn.getInputStream
    try parseCrawlListingPage(
      scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Protocol dispatch (cc2dataset/main.py:209-228): `s3` globs the
    * crawl bucket via the Hadoop filesystem, `http` scrapes the public
    * listing page.
    */
  def getCcWatLinks(spark: SparkSession, protocol: String,
      s3Root: String = "s3a://commoncrawl/crawl-data/*/wat.paths.gz",
      httpPage: String = "https://commoncrawl.org/the-data/get-started/"): Seq[String] =
    protocol match {
      case "s3"   => discoverCrawlIndexes(spark, s3Root)
      case "http" => discoverCrawlIndexesHttp(httpPage)
      case other  => throw new IllegalArgumentException(s"Unknown protocol $other")
    }

  /** S4: one gzip'd text index file → WAT paths. Index URLs from the
    * http discovery path are plain https — streamed via URL, since no
    * Hadoop FileSystem binds that scheme; everything else goes through
    * the Hadoop filesystem (s3a, hdfs, file).
    */
  def readWatIndexFile(spark: SparkSession, indexPath: String): Seq[String] = {
    val raw: java.io.InputStream =
      if (indexPath.startsWith("http://") || indexPath.startsWith("https://")) {
        val conn = java.net.URI.create(indexPath).toURL.openConnection()
        conn.setConnectTimeout(30000) // a hung server must not block forever
        conn.setReadTimeout(60000)
        conn.getInputStream
      } else {
        val p = new Path(indexPath)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).open(p)
      }
    // the GZIP constructor reads the header and throws on non-gzip bytes
    // (an http error page) — close raw on that path too, not just after
    val in =
      try if (indexPath.endsWith(".gz")) new GZIPInputStream(raw) else raw
      catch { case e: Throwable => raw.close(); throw e }
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** S5: parallel index fetch, keep the LAST `shardCount` indexes, then
    * sample `watCount` paths WITH replacement (reference semantics:
    * `random.choices`, main.py:247 — the same WAT may be drawn twice and
    * dedup later collapses it) or shuffle all when `watCount` is None.
    */
  def readWatIndexFiles(spark: SparkSession, indexPaths: Seq[String],
      shardCount: Option[Int], watCount: Option[Int], seed: Long): Seq[String] = {
    val chosen = shardCount.map(n => indexPaths.takeRight(n)).getOrElse(indexPaths)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val all = Await.result(
      Future.traverse(chosen.toList)(p => Future(readWatIndexFile(spark, p))),
      Duration.Inf).flatten
    // an empty pool would otherwise surface as Random.nextInt(0)'s opaque
    // "bound must be positive" — name the real failure (discovery came up
    // empty or the index files had no entries)
    require(all.nonEmpty,
      s"no WAT paths found in index files ${chosen.mkString(", ")} — " +
        "crawl-index discovery returned nothing or the indexes are empty")
    val rnd = new scala.util.Random(seed)
    watCount match {
      case Some(n) => Seq.fill(n)(all(rnd.nextInt(all.size)))
      case None => rnd.shuffle(all)
    }
  }
}
