package graft.sources

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.wat.{CcIndex, Cdxj, WarcExtract, WatFixture, WatReader, WetText}

/** DSv2 `warc` source: schema/rows, planning-time path pruning,
  * column pruning (html decode skipped), max_tasks batching; for every
  * archive format, repeated and empty listings and the size of what
  * each task carries.
  */
class WarcDataSourceSpec extends AnyFunSuite with SparkTestBase {

  private lazy val warcs: Seq[String] = {
    val dir = java.nio.file.Files.createTempDirectory("graft-warc-dsv2")
    (0 until 4).map { i =>
      WatFixture.syntheticWarc(dir.resolve(s"w$i.warc.gz").toString,
        nRecords = 25, linksPerRecord = 6, seed = 500L + i)
    }
  }

  test("schema and row count: one row per text/html response record") {
    val df = spark.read.format("warc").load(warcs: _*)
    assert(df.schema.fieldNames.toSeq ==
      Seq("warc_path", "page_url", "html"))
    // 25 responses per archive; the warcinfo record contributes nothing
    assert(df.count() == 4L * 25)
    val row = df.orderBy("page_url").head()
    assert(row.getString(1).startsWith("https://site"))
    assert(row.getString(2).contains("<html>"))
  }

  test("warc_path predicates prune partitions at planning time") {
    val one = spark.read.format("warc").load(warcs: _*)
      .where(org.apache.spark.sql.functions.col("warc_path")
        .endsWith("w2.warc.gz"))
    assert(one.select("warc_path").distinct().count() == 1L)
    // the pruned scan plans exactly ONE input partition (the other
    // three archives are never fetched)
    assert(one.rdd.getNumPartitions == 1)
  }

  test("column pruning: dropping html still counts pages; ReadSchema " +
      "shows the pruned projection") {
    val counts = spark.read.format("warc").load(warcs: _*)
      .groupBy("warc_path").count()
    assert(counts.count() == 4L)
    val plan = counts.queryExecution.executedPlan.toString
    assert(!plan.contains("html#") || !plan.contains("ReadSchema") ||
      !plan.split("ReadSchema")(1).takeWhile(_ != '\n').contains("html"),
      s"html column must be pruned from the scan:\n$plan")
  }

  test("max_tasks batches archives into bounded partitions") {
    val batched = spark.read.format("warc").option("max_tasks", "2")
      .load(warcs: _*)
    assert(batched.rdd.getNumPartitions == 2)
    assert(batched.count() == 4L * 25) // batching loses nothing
  }

  test("fromPaths yields links for every doc type") {
    for (docType <- graft.model.DocumentType.All)
      assert(WarcExtract.fromPaths(spark, warcs, docType).count() > 0,
        s"$docType: empty extraction")
  }

  /** Every archive format's public reader over one listing, with one
    * fixture archive each: wat and warc by short name, the rest through
    * their entry points.
    */
  private def readers: Seq[(String, Seq[String] => DataFrame, String)] = {
    val sf = "/root/testdata/sf0.001"
    Seq(
      ("wat", (ps: Seq[String]) => spark.read.format("wat").load(ps: _*),
        WatFixture.ensureFleet().head),
      ("warc", (ps: Seq[String]) => spark.read.format("warc").load(ps: _*),
        warcs.head),
      ("wet", WetText.docs(spark, _: Seq[String]),
        WatFixture.ensureDocWets(spark, sf).head),
      ("cdxj", Cdxj.indexFrame(spark, _: Seq[String]),
        WatFixture.ensureDocCdxj(spark, sf)._1.head),
      ("cdx", Cdxj.legacyIndexFrame(spark, _: Seq[String]),
        WatFixture.ensureDocCdxLegacy(spark, sf)._1.head),
      ("ccindex", CcIndex.buildIndexFromRecords(spark, _: Seq[String]),
        warcs.head))
  }

  test("a path listed twice is read twice; an empty listing reads empty") {
    val twice = spark.read.format("warc").load(warcs.head, warcs.head)
    assert(twice.rdd.getNumPartitions == 2)
    assert(twice.count() == 2L * 25)
    assert(WarcExtract.fromPaths(spark, Nil, "image_only").count() == 0)
    for ((fmt, read, path) <- readers) {
      val once = read(Seq(path)).count()
      val df = read(Seq(path, path))
      assert(df.rdd.getNumPartitions == 2, fmt)
      assert(once > 0 && df.count() == 2 * once, fmt)
      val empty = read(Nil)
      assert(empty.rdd.getNumPartitions == 0, fmt)
      assert(empty.count() == 0, fmt)
    }
  }

  test("reader factories stay small: the Hadoop conf rides in one " +
      "broadcast per scan, not in every task") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def size(f: org.apache.spark.sql.connector.read.PartitionReaderFactory) = {
      val buf = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(buf)
      out.writeObject(f)
      out.close()
      buf.size()
    }
    for ((fmt, read, path) <- readers) {
      val scan = read(Seq(path)).queryExecution
        .executedPlan.collectFirst { case b: BatchScanExec => b.scan }.get
      val batch = size(scan.toBatch.createReaderFactory())
      assert(batch < 8192, s"$fmt batch reader factory: $batch bytes")
      val dir = java.nio.file.Files.createTempDirectory("graft-factory")
      val stream = size(scan.toMicroBatchStream(dir.toString)
        .createReaderFactory())
      assert(stream < 8192, s"$fmt stream reader factory: $stream bytes")
    }
  }
  test("doc-warc fixture: the documents table round-trips through WARC " +
      "framing — boilerplate metrics equal the direct-html path") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sfDir = "/root/testdata/sf0.001"
    val docWarcs = WatFixture.ensureDocWarcs(spark, sfDir)
    val pages = spark.read.format("warc").load(docWarcs: _*)
      .select(col("page_url"), col("html"))
    assert(pages.count() == 500L) // every non-null doc becomes a page
    def rows(df: org.apache.spark.sql.DataFrame, idFromUrl: Boolean) = {
      val keyed =
        if (idFromUrl) df.withColumn("doc_id",
          regexp_extract(col("page_url"), "doc(\\d+)", 1).cast("long"))
        else df
      graft.ext.Boilerplate
        .extractMainContent(keyed.select("doc_id", "html"),
          "doc_id", "html")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).sorted.toSeq
    }
    val viaWarc = rows(pages, idFromUrl = true)
    val direct = rows(
      spark.read.parquet(s"$sfDir/documents.parquet")
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          (id, graft.queries.ExtQueries.bpHtmlFor(id, text))
        }.toDF("doc_id", "html"), idFromUrl = false)
    assert(viaWarc.nonEmpty && viaWarc == direct,
      "WARC transport changed the boilerplate extraction")
  }
  test("WARC archives decoded as a stream read the same records as " +
      "whole-file; a cut one counts once and keeps its prefix") {
    // through the reader's test seam: whole-file limit 0 sends EVERY
    // archive down the streaming branch. Rows are a function of the
    // records, so equal records (headers and payload bytes) mean equal
    // rows.
    val conf = spark.sparkContext.hadoopConfiguration
    def recs(p: String, limit: Long, onCorrupt: Exception => Unit = _ => ()) =
      WatReader.archiveRecords(p, conf, onCorrupt, wholeFileLimit = limit)
        .toList.map(r => (r.headers, r.payload.toSeq))
    warcs.foreach { w =>
      val whole = recs(w, WatReader.MaxArrayBytes)
      assert(whole.size > 25 && recs(w, 0L) == whole, w)
    }
    // a cut archive on the streaming branch: onCorrupt fires once, and
    // the records before the cut are kept as a prefix
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(warcs.head))
    val cut = java.nio.file.Files.createTempFile("graft-warc-cut", ".warc.gz")
    java.nio.file.Files.write(cut, bytes.take(bytes.length - 40))
    var corrupt = 0
    val kept = recs(cut.toString, 0L, _ => corrupt += 1)
    val full = recs(warcs.head, WatReader.MaxArrayBytes)
    assert(corrupt == 1)
    assert(kept.size > 1 && kept.size < full.size) // more than warcinfo
    assert(kept == full.take(kept.size))
    // the product entry reports the same count through its scan
    val links = WarcExtract.fromPaths(spark, Seq(warcs(1), cut.toString),
      "image_only")
    links.collect()
    assert(graft.SparkTestBase.corruptArchives(links) == 1L)
  }
}
