package graft.wat

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.sources.{ArchivePartition, ArchiveReaderFactory, ArchiveScanBuilder, WatDataSource}

/** Relational (from_json + explode + Column) extraction must agree with
  * the imperative ProcessWat on the fixture — same rows, same uids.
  */
class WatExtractSpec extends AnyFunSuite with SparkTestBase {

  private val tmp = Files.createTempDirectory("watextract").toFile
  private val fixturePath =
    WatFixture.write(new File(tmp, "fixture.warc.wat.gz").getAbsolutePath)

  for ((dt, (pre, _, sampleUid)) <- WatFixture.golden) {
    test(s"relational golden + imperative parity for $dt") {
      val rel = WatExtract.fromPaths(spark, Seq(fixturePath), dt)
        .collect().toList
      val imp = ProcessWat(fixturePath, dt).toList
      assert(rel.size == pre)
      assert(rel.exists(_.uid == sampleUid))
      assert(rel.map(r => (r.uid, r.url, r.alt, r.cc_filename, r.page_url)).sorted
        == imp.map(r => (r.uid, r.url, r.alt, r.cc_filename, r.page_url)).sorted)
    }
  }

  test("full-content golden hashes pin extraction output for all doc types") {
    def hash(paths: Seq[String], dt: String): String =
      WatFixture.contentHash(
        WatExtract.fromPaths(spark, paths, dt).collect().toSeq
          .map(r => (r.uid, r.url, String.valueOf(r.alt), r.cc_filename,
            r.page_url)))
    for ((dt, want) <- WatFixture.goldenContentHash)
      assert(hash(Seq(fixturePath), dt) == want, s"canonical fixture, $dt")
    val single = WatFixture.ensureSingle()
    for ((dt, want) <- WatFixture.goldenSingleContentHash)
      assert(hash(single, dt) == want, s"400k-link fixture, $dt")
    // the exact input of the rows-only q_wat_extract / q_wat_dedup
    // driver queries — their full content is pinned here instead
    val fleet = WatFixture.ensureFleet()
    for ((dt, want) <- WatFixture.goldenFleetContentHash)
      assert(hash(fleet, dt) == want, s"16-archive fleet, $dt")
  }

  test("fleet64 batched extraction: 16 tasks, pinned content") {
    val fleet64 = WatFixture.ensureFleet64()
    assert(fleet64.size == 64)
    assert(fleet64.take(16) == WatFixture.ensureFleet(),
      "the 64-archive series must extend the 16-archive fleet value-stably")
    val batched = WatExtract.fromPaths(spark, fleet64,
      "image_only", maxTasks = 16)
    // the raw source plans exactly max_tasks partitions (4 archives each)
    assert(spark.read.format("wat").option("max_tasks", 16)
      .load(fleet64: _*).rdd.getNumPartitions == 16)
    val got = batched.collect().toSeq
      .map(r => (r.uid, r.url, String.valueOf(r.alt), r.cc_filename,
        r.page_url))
    assert(WatFixture.contentHash(got) == WatFixture.goldenFleet64Hash,
      s"fleet64 content drifted: ${WatFixture.contentHash(got)}")
  }

  test("regenerated oracle dumps are golden-validated, never self-referential") {
    // positive: a fresh dump whose content matches the pinned md5 is served
    val okTarget = new File(tmp, "dump_ok.parquet")
    val path = WatFixture.ensureExtractDump(okTarget,
      WatExtract.fromPaths(spark, Seq(fixturePath), "image_only").toDF(),
      spark, WatFixture.goldenContentHash("image_only"))
    assert(new File(path).isFile)
    // negative: a "broken extractor" (wrong content) must be REFUSED —
    // without this, a missing committed dump under an oracle run would
    // self-heal into extraction-vs-itself and pass vacuously
    val badTarget = new File(tmp, "dump_bad.parquet")
    val ex = intercept[IllegalStateException] {
      WatFixture.ensureExtractDump(badTarget,
        WatExtract.fromPaths(spark, Seq(fixturePath), "audio").toDF(),
        spark, WatFixture.goldenContentHash("image_only"))
    }
    assert(ex.getMessage.contains("golden validation"))
    assert(!badTarget.exists(), "a failed dump must not be published")
  }

  test("malformed records and missing-ancestor records are dropped, not fatal") {
    // fixture contains 1 malformed + 3 missing-ancestor metadata records;
    // extraction still succeeds and only link-bearing records contribute
    val n = WatExtract.fromPaths(spark, Seq(fixturePath), "image_only").count()
    assert(n == 4)
  }

  test("DataSourceV2 wat format: same rows, one partition per file") {
    val v2 = spark.read.format("wat").load(fixturePath)
    assert(v2.columns.toSeq == Seq("wat_path", "payload"))
    assert(v2.count() == WatFixture.records.size - 1) // metadata only
    assert(v2.rdd.getNumPartitions == 1)
  }

  test("DSv2 wat scan prunes the payload column") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val pruned = spark.read.format("wat").load(fixturePath).select("wat_path")
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(scan.readSchema().fieldNames.toSeq == Seq("wat_path"))
    assert(pruned.count() == WatFixture.records.size - 1) // rows unchanged
    // full projection still reads both columns
    val full = spark.read.format("wat").load(fixturePath)
    val fullScan = full.queryExecution.executedPlan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get
    assert(fullScan.readSchema().fieldNames.toSeq == Seq("wat_path", "payload"))
  }

  test("two input files double the rows (one partition per file)") {
    val f2 = WatFixture.write(new File(tmp, "fixture2.warc.wat.gz").getAbsolutePath)
    val ds = WatExtract.payloads(spark, Seq(fixturePath, f2))
    assert(ds.rdd.getNumPartitions == 2)
    assert(WatExtract.fromPaths(spark, Seq(fixturePath, f2), "audio").count() == 4)
  }

  test("scan metric counts corrupt shards without task aborts") {
    val good = fixturePath
    val bytes = Files.readAllBytes(new File(good).toPath)
    val cutFile = new File(tmp, "cut.warc.wat.gz")
    Files.write(cutFile.toPath, bytes.take(bytes.length - 40))
    val ds = WatExtract.payloads(spark, Seq(good, cutFile.getAbsolutePath))
    val n = ds.collect().length
    // truncated shard counted, good file clean
    assert(SparkTestBase.corruptArchives(ds) == 1L)
    assert(n > WatFixture.records.size - 1) // cut shard still contributed
  }

  test("a path listed twice is read twice: one partition per listing") {
    // the product samples archives with replacement — a repeat is work
    val once = spark.read.format("wat").load(fixturePath)
    val twice = spark.read.format("wat").load(fixturePath, fixturePath)
    assert(twice.rdd.getNumPartitions == 2)
    assert(twice.count() == 2 * once.count())
    assert(WatExtract.fromPaths(spark, Seq(fixturePath, fixturePath),
      "audio").count() == 4)
  }

  test("an empty path list reads as an empty result") {
    assert(WatExtract.payloads(spark, Nil).count() == 0)
    assert(WatExtract.fromPaths(spark, Nil, "image").count() == 0)
  }

  test("DSv2 batches archives per partition above max_tasks") {
    val fleet = WatFixture.ensureFleet()
    assert(fleet.size == 16)
    val unbatched = spark.read.format("wat").load(fleet: _*)
    assert(unbatched.rdd.getNumPartitions == 16) // below default threshold
    val batched = spark.read.format("wat").option("max_tasks", 4)
      .load(fleet: _*)
    // 16 archives / 4 tasks → 4 partitions of 4 sequential archives
    assert(batched.rdd.getNumPartitions == 4)
    // extraction rows are IDENTICAL — batching changes scheduling, not data
    assert(batched.count() == unbatched.count())
    val a = batched.collect().map(_.toString).sorted
    val b = unbatched.collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // planning-time pushdown composes with batching: prune to 2 archives,
    // then the 2 survivors fit under max_tasks → 2 single-archive tasks
    import org.apache.spark.sql.functions.col
    val two = batched.where(col("wat_path").isin(fleet(0), fleet(9)))
    assert(two.rdd.getNumPartitions == 2)
    assert(two.select("wat_path").distinct().count() == 2)
  }

  test("DSv2 reader reports corrupt archives via the custom task metric") {
    val bytes = Files.readAllBytes(new File(fixturePath).toPath)
    val cut = new File(tmp, "metric_cut.warc.wat.gz")
    Files.write(cut.toPath, bytes.take(bytes.length - 40))
    val conf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val reader = new ArchiveReaderFactory(WatDataSource, conf,
      WatDataSource.schema)
      .createReader(ArchivePartition(Seq(fixturePath, cut.getAbsolutePath)))
    var rows = 0
    while (reader.next()) rows += 1
    val metric = reader.currentMetricsValues()
      .find(_.name == "corruptArchives").get
    assert(metric.value == 1L) // only the truncated archive counted
    assert(rows > WatFixture.records.size - 1) // cut shard still contributed
    // and the scan declares the metric so the UI can aggregate it
    val scan = new ArchiveScanBuilder(WatDataSource, Seq(fixturePath)).build()
    assert(scan.supportedCustomMetrics().exists(_.name == "corruptArchives"))
  }

  test("DSv2 wat_path filters prune whole archives at planning time") {
    import org.apache.spark.sql.functions.col
    val f2 = WatFixture.write(new File(tmp, "fixture3.warc.wat.gz").getAbsolutePath)
    val both = spark.read.format("wat").load(fixturePath, f2)
    assert(both.rdd.getNumPartitions == 2)
    // equality on wat_path → 1 partition, only that archive's rows
    val one = both.where(col("wat_path") === f2)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == WatFixture.records.size - 1)
    // suffix match that hits both files → still 2 partitions
    val suffix = both.where(col("wat_path").endsWith(".warc.wat.gz"))
    assert(suffix.rdd.getNumPartitions == 2)
    // contradiction → zero partitions, zero rows, nothing fetched
    val none = both.where(col("wat_path") === "nope")
    assert(none.rdd.getNumPartitions == 0)
    assert(none.count() == 0)
    // payload predicates are NOT pushed: rows still filter correctly
    val pay = both.where(col("payload").contains("graft-fixture"))
    assert(pay.rdd.getNumPartitions == 2)
    assert(pay.count() == 0) // warcinfo (the matching record) is non-metadata
  }
}
