package graft.pipeline

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, hash, lit, pmod}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.{Dedup, Shuffle}
import graft.wat.{WatExtract, WatFixture}

/** The product's output write (`Cc2Dataset.dedupRepartitionCount`): one
  * bucketed write of F = `Shuffle.outputPartitions(watCount)` files.
  */
class OutputWriteSpec extends AnyFunSuite with SparkTestBase {
  import OutputWriteSpec._

  private val tmp = Files.createTempDirectory("output_write").toFile
  // 8 distinct archives, two of them listed twice (the reference samples
  // the crawl index with replacement, so dedup always has work)
  private val archives = (0 until 8).map { i =>
    WatFixture.syntheticWat(new File(tmp, s"a$i.warc.wat.gz").getAbsolutePath,
      200, 10, seed = 300L + i)
  }
  private val paths = archives ++ Seq(archives(2), archives(5))
  private val files = Shuffle.outputPartitions(paths.size)

  private def links: DataFrame =
    WatExtract.fromPaths(spark, paths, "image").toDF()

  private def write(name: String, shuffle: Boolean, seed: Long): (String, Long) = {
    val out = new File(tmp, name).getAbsolutePath
    (out, Cc2Dataset.dedupRepartitionCount(links, out, paths.size, shuffle, seed))
  }

  private lazy val seed7 = write("seed7", shuffle = true, seed = 7L)

  test("the rows are the three-exchange chain's: uid set and count") {
    val old = new File(tmp, "old_chain").getAbsolutePath
    Shuffle.repartitionForOutput(
      Shuffle.randomShuffle(Dedup.byKey(links, Seq("uid")), 7L), paths.size)
      .write.mode("overwrite").parquet(old)
    val oldUids = spark.read.parquet(old).select("uid").collect().map(_.getString(0))
    val (out, n) = seed7
    val uids = spark.read.parquet(out).select("uid").collect().map(_.getString(0))
    assert(n == oldUids.length && n > files)
    assert(uids.sorted.sameElements(oldUids.sorted))
    assert(new File(out, "_SUCCESS").exists())
  }

  test("the returned count is the written row count") {
    val (out, n) = seed7
    assert(n == spark.read.parquet(out).count())
    val (outPlain, nPlain) = write("plain", shuffle = false, seed = 7L)
    assert(nPlain == spark.read.parquet(outPlain).count() && nPlain == n)
  }

  test("each file holds one bucket, and every populated bucket one file") {
    val (out, n) = seed7
    val byFile = fileBuckets(spark, out, files)
    byFile.foreach { case (f, (named, held)) =>
      assert(held == Set(named), s"$f is bucket $named but holds buckets $held")
    }
    val named = byFile.values.map(_._1).toSeq
    assert(named.distinct.size == named.size, "two files for one bucket")
    assert(byFile.size == populatedBuckets(spark, out, files))
    assert(byFile.size == files, s"$n rows") // this fixture fills every bucket
  }

  test("the seed fixes the bytes of every file; another seed reorders them") {
    // byte identity needs one candidate row per uid: otherwise dedup's
    // survivor (an arbitrary row per key, as in the reference) may differ
    val all = links
    assert(all.distinct().count() == all.select("uid").distinct().count())
    val (out, _) = seed7
    val (again, _) = write("seed7_again", shuffle = true, seed = 7L)
    val a = fileBytes(out)
    val b = fileBytes(again)
    assert(a.keySet == b.keySet && a.size == files)
    a.foreach { case (bucket, bytes) =>
      assert(java.util.Arrays.equals(bytes, b(bucket)), s"bucket $bucket differs")
    }
    val (other, _) = write("seed8", shuffle = true, seed = 8L)
    val orders7 = fileUids(spark, out)
    val orders8 = fileUids(spark, other)
    assert(orders7.keySet == orders8.keySet)
    assert(orders7.exists { case (bucket, us) => us != orders8(bucket) })
    // the same rows per file, only their order moves
    assert(orders7.forall { case (bucket, us) => us.sorted == orders8(bucket).sorted })
    // shuffled files are not uid-sorted
    assert(orders7.values.exists(us => us.length > 1 && us != us.sorted))
  }

  test("the writer adds no sort of its own") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan.treeString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try write("plan", shuffle = true, seed = 7L)
    finally spark.listenerManager.unregister(listener)
    // listener events arrive asynchronously
    val deadline = System.nanoTime() + 30e9.toLong
    def writePlan = plans.toArray(Array.empty[String])
      .find(_.contains("InsertIntoHadoopFsRelationCommand"))
    while (writePlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    val executed = writePlan.getOrElse(fail("no write plan observed"))
      .split("== Initial Plan ==").head
    // exactly one sort by bucket id, and it is the bucket-then-seed one
    val bucketSorts = executed.linesIterator.filter(_.contains("Sort [pmod(")).toSeq
    assert(bucketSorts.size == 1, executed)
    assert(bucketSorts.head.contains("xxhash64(uid"), executed)
  }

  test("no transient output table outlives a write, successful or failed") {
    seed7
    assert(outputTables(spark).isEmpty)
    // the output path's parent is a regular file, so the write fails
    val blocker = new File(tmp, "a_file")
    Files.write(blocker.toPath, "not a directory".getBytes("UTF-8"))
    intercept[Exception] {
      Cc2Dataset.dedupRepartitionCount(links, new File(blocker, "out").getAbsolutePath,
        paths.size, shuffle = true, seed = 7L)
    }
    assert(outputTables(spark).isEmpty)
  }

  test("write tasks: the largest divisor of the file count within the bound") {
    for (f <- Seq(256, 400, 2000); bound <- Seq(1, 2, 4, 22, 1000)) {
      val p = Shuffle.writeTasks(f, bound)
      val cap = math.max(1, bound)
      assert(f % p == 0 && p <= cap, s"F=$f bound=$bound gave $p")
      assert(!(p + 1 to math.min(f, cap)).exists(f % _ == 0),
        s"F=$f bound=$bound gave $p, a larger divisor fits")
    }
    assert(Shuffle.writeTasks(256, 22) == 16)
    assert(Shuffle.writeTasks(256, 1000) == 256)
    assert(Shuffle.writeTasks(400, 22) == 20)
    assert(Shuffle.writeTasks(2000, 0) == 1)
  }
}

object OutputWriteSpec {

  /** Spark's bucketed writer names each file with its 5-digit bucket id. */
  private val BucketIdInName = raw"_(\d{5})\.c\d+".r

  def partFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)

  def bucketOf(f: File): Int =
    BucketIdInName.findFirstMatchIn(f.getName).map(_.group(1).toInt)
      .getOrElse(throw new AssertionError(s"no bucket id in ${f.getName}"))

  /** Per file: the bucket its name carries and the buckets its rows hash to. */
  def fileBuckets(spark: SparkSession, dir: String,
      files: Int): Map[String, (Int, Set[Int])] =
    partFiles(dir).map { f =>
      val held = spark.read.parquet(f.getAbsolutePath)
        .select(pmod(hash(col("uid")), lit(files))).distinct()
        .collect().map(_.getInt(0)).toSet
      f.getName -> ((bucketOf(f), held))
    }.toMap

  def populatedBuckets(spark: SparkSession, dir: String, files: Int): Long =
    spark.read.parquet(dir).select(pmod(hash(col("uid")), lit(files)))
      .distinct().count()

  def fileBytes(dir: String): Map[Int, Array[Byte]] =
    partFiles(dir).map(f => bucketOf(f) -> Files.readAllBytes(f.toPath)).toMap

  /** Per bucket: its file's uids in file order. */
  def fileUids(spark: SparkSession, dir: String): Map[Int, Seq[String]] =
    partFiles(dir).map { f =>
      bucketOf(f) -> spark.read.parquet(f.getAbsolutePath).select("uid")
        .collect().map(_.getString(0)).toSeq
    }.toMap

  def outputTables(spark: SparkSession): Seq[String] =
    spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(Cc2Dataset.OutputTablePrefix)).toSeq
}
