package graft.wat

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{DocLink, WatEnvelope}
import graft.ops.LinkOps
import graft.sources.ArchiveSource

/** WAT → DocLink extraction, two layers:
  *
  * 1. `payloads` — the only imperative hop: the `wat` source's one task
  *    per WAT file (the reference's parallelization unit,
  *    cc2dataset/main.py:273-274) fetches + frame-splits the archive and
  *    emits raw JSON strings.
  * 2. `extract` — fully relational from there: `from_json` with the
  *    envelope schema (Catalyst prunes the JSON parse to just the
  *    navigated fields), `explode` over links, Column predicates,
  *    urljoin UDF only on relative urls, builtin md5 uid. Everything
  *    after the scan is optimizer-visible and codegen'd — unlike the
  *    reference, whose Python mapPartitions is opaque end-to-end
  *    (SURVEY.md §4.1).
  *
  * Semantic order matters and follows cc2dataset/main.py:166-177:
  * type predicate on the RAW url → absolutize → scheme filter → uid.
  */
object WatExtract {

  /** WAT paths → one `payload` row (raw JSON) per metadata record,
    * through the `wat` source: one partition per archive up to
    * `maxTasks` (the reference's parallelization unit,
    * cc2dataset/main.py:273-274), contiguous batching above it. A
    * corrupt or unfetchable archive contributes the records read before
    * the failure, never a task abort, and counts into the scan's
    * `corruptArchives` metric.
    */
  def payloads(spark: SparkSession, paths: Seq[String],
      maxTasks: Int = ArchiveSource.DefaultMaxTasks): DataFrame =
    spark.read.format("wat")
      .option("max_tasks", maxTasks)
      .load(paths: _*).select("payload")

  /** Relational extraction over a DataFrame with a `payload` JSON column.
    * Uses the native `url_resolve` Catalyst expression (codegen'd) rather
    * than the UDF — registered idempotently on the input's session.
    */
  def extract(payloadDf: DataFrame, docType: String): Dataset[DocLink] = {
    val parsed = payloadDf
      .select(from_json(col("payload"), WatEnvelope.schema).as("r"))
      .select(
        col("r.Container.Filename").as("cc_filename"),
        col("r.Envelope.WARC-Header-Metadata.WARC-Target-URI").as("page_url"),
        col("r.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Head.Base")
          .as("head_base"),
        col("r.Envelope.Payload-Metadata.HTTP-Response-Metadata.HTML-Metadata.Links")
          .as("links"))
      // F7 presence guards (main.py:146-153) collapse to one null check:
      // missing any ancestor ⇒ links is null. Malformed JSON ⇒ whole
      // struct null (PERMISSIVE), same drop — the reference's per-record
      // try/except (main.py:139-142).
      .where(col("links").isNotNull)
    extractLinks(parsed, docType)
  }

  /** The shared relational tail over a LINK FRAME — columns
    * `cc_filename`, `page_url`, `head_base`, `links:
    * array<struct<url,text,alt,path>>` — regardless of where the frame
    * came from (WAT's parsed envelope above, or the raw-WARC HTML
    * scanner, [[WarcExtract]]). Semantic order per
    * cc2dataset/main.py:166-177: type predicate on the RAW url →
    * absolutize (with <base href> fallback to the page url) → scheme
    * filter → uid.
    */
  def extractLinks(linkFrame: DataFrame, docType: String): Dataset[DocLink] = {
    val spark = linkFrame.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    def resolve(base: org.apache.spark.sql.Column, rel: org.apache.spark.sql.Column) =
      call_function(graft.functions.GraftFunctions.UrlResolveName, base, rel)
    def resolveBase(page: org.apache.spark.sql.Column, hb: org.apache.spark.sql.Column) =
      call_function(graft.functions.GraftFunctions.UrlResolveBaseName, page, hb)

    // base-fallback variant: an absent or unparsable <base href> keeps
    // the page url as base (main.py:158-164) — null and error handling
    // both live inside url_resolve_base
    val parsed = linkFrame
      .withColumn("base", resolveBase(col("page_url"), col("head_base")))

    val link = col("link")
    val (pred, altExpr) = LinkOps.forDocumentType(docType, link)

    parsed
      .select(col("cc_filename"), col("page_url"), col("base"),
        explode(col("links")).as("link"))
      .where(link("url").isNotNull && pred)
      .select(col("cc_filename"), col("page_url"),
        altExpr.as("alt"),
        when(LinkOps.hasHttpScheme(link("url")), link("url"))
          .otherwise(resolve(col("base"), link("url"))).as("url"))
      .where(LinkOps.hasHttpScheme(col("url")))
      .select(
        LinkOps.uid(col("alt"), col("url")).as("uid"),
        col("url"), col("alt"), col("cc_filename"), col("page_url"))
      .as[DocLink]
  }

  /** End-to-end: WAT paths → deduplicatable DocLink dataset. Each
    * archive is fetched whole, or decoded as a stream when it is too long
    * for one byte array (`WatReader.archiveRecords`). `maxTasks` caps the
    * task count: above it contiguous archive groups share a partition,
    * so a million-archive listing plans a bounded task count
    * (`ArchiveSource.DefaultMaxTasks` scaladoc).
    */
  def fromPaths(spark: SparkSession, paths: Seq[String], docType: String,
      maxTasks: Int = ArchiveSource.DefaultMaxTasks): Dataset[DocLink] =
    extract(payloads(spark, paths, maxTasks), docType)

  /** CONTINUOUS extraction: the streaming wat source (globs relisted per
    * micro-batch, each archive exactly once) through the SAME relational
    * extraction — `extract` is pure Catalyst, so batch and streaming
    * share one code path. Pair with an append parquet sink + the batch
    * merge-dedup (`Cc2Dataset.dedupRepartitionCount`) for the
    * reference's multipart shape running as a live intake.
    */
  def extractStream(spark: SparkSession, globs: Seq[String],
      docType: String, options: Map[String, String] = Map.empty): Dataset[DocLink] = {
    // DataStreamReader.load takes one path; several globs ride the same
    // "paths" JSON property the batch reader uses (ArchiveSource.pathsFrom)
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = om.createArrayNode()
    globs.foreach(arr.add)
    extract(spark.readStream.format("wat").options(options)
      .option("paths", om.writeValueAsString(arr)).load().select("payload"),
      docType)
  }

  /** Manifest-notification streaming intake — the discovery-cost fix for
    * crawl scale: [[extractStream]] RE-LISTS the archive prefix every
    * micro-batch, and a production crawl prefix is ~5M objects, so the
    * listing dwarfs the work. Crawl publishers already drop small
    * MANIFEST files whose lines are archive paths (Common Crawl's
    * `wat.paths` per crawl — SURVEY §2 S4); watching the manifest
    * directory lists a handful of files per trigger instead. Each new
    * manifest's archives are fetched ON EXECUTORS (repartitioned first:
    * one 90k-line manifest must not fetch serially in one task) and run
    * through the same relational extraction — batch, glob-streaming and
    * manifest-streaming share one Catalyst code path.
    *
    * Exactly-once is per MANIFEST (the file-stream source log); an
    * archive listed in two manifests is fetched twice — dedup is stage
    * 2's job, exactly as in the batch pipeline. Lines that are blank or
    * `#`-commented are ignored.
    */
  def extractStreamFromManifests(spark: SparkSession, manifestGlob: String,
      docType: String, maxFilesPerTrigger: Int = 0): Dataset[DocLink] = {
    import spark.implicits._
    // the session Hadoop conf, so executors keep every spark.hadoop.*
    val conf = spark.sparkContext.broadcast(new org.apache.spark.util
      .SerializableConfiguration(spark.sparkContext.hadoopConfiguration))
    val reader = spark.readStream.format("text")
    val withTrigger =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    val paths = withTrigger.load(manifestGlob).as[String]
      .map(_.trim)
      .filter(p => p.nonEmpty && !p.startsWith("#"))
      .repartition(spark.sparkContext.defaultParallelism)
    val payloads = paths
      .flatMap { p =>
        val it = WatReader.metadataPayloads(p, conf.value.value)
        // a limit/kill ends the task without exhausting the iterator
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => it.close()))
        it
      }
      .toDF("payload")
    extract(payloads, docType)
  }
}
