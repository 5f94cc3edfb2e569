package graft.ops

import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Pins the two layout guarantees Bucketing's scaladoc (and ZOrder's)
  * sells: a join of two same-count bucketed tables on their bucket keys
  * plans with ZERO exchanges, and an equality scan prunes to one
  * bucket. Results are also value-checked against the plain (shuffling)
  * join so the layout never changes semantics.
  */
class BucketingSpec extends AnyFunSuite with SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"
  private val buckets = 4

  private lazy val tables: Unit = {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val or = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_orderpriority")
    Bucketing.writeBucketed(li, "graft_spec_li", "l_orderkey", buckets)
    Bucketing.writeBucketed(or, "graft_spec_or", "o_orderkey", buckets)
  }

  /** Count exchanges in the physical plan. AQE wraps materialized
    * exchanges in leaf QueryStageExec nodes a tree collect can't see
    * through, so the callers pin the plan SHAPE with AQE off — whether
    * an exchange exists at all is a static planning fact AQE never
    * changes (it only re-plans around one).
    */
  private def exchanges(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan.collectWithSubqueries {
      case e: ShuffleExchangeExec => e
    }.size

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally pairs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("bucketed SMJ on the bucket keys plans with zero exchanges " +
      "AND zero sorts") {
    tables
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val j = Bucketing.bucketedEquiJoin(spark, "graft_spec_li",
        "graft_spec_or", "l_orderkey", "o_orderkey")
      assert(exchanges(j) == 0,
        s"bucketed join must not shuffle:\n${j.queryExecution.executedPlan}")
      // one file per bucket means the scan REPORTS the write-time sort,
      // so the SMJ streams both sides — a Sort here means the layout's
      // sort is being re-paid at every read (the multi-file-per-bucket
      // trap: scans only trust bucket order with at most one file)
      val sorts = j.queryExecution.executedPlan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size
      assert(sorts == 0,
        s"bucketed join must not re-sort:\n${j.queryExecution.executedPlan}")
      assert(j.count() > 0)
    }
  }

  test("ensureBucketed reuses an existing layout and the read-side " +
      "join still plans exchange-free") {
    tables
    // the q_bucket_join_read contract: a second ensure is a no-op (the
    // write-time shuffle is paid once per corpus), and the join read
    // off the pre-existing layout carries the same zero-exchange plan
    val before = spark.table("graft_spec_li").inputFiles.toSet
    Bucketing.ensureBucketed(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount"),
      "graft_spec_li", "l_orderkey", buckets)
    assert(spark.table("graft_spec_li").inputFiles.toSet == before,
      "ensureBucketed must not rewrite an existing layout")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val j = Bucketing.bucketedEquiJoin(spark, "graft_spec_li",
        "graft_spec_or", "l_orderkey", "o_orderkey")
      assert(exchanges(j) == 0,
        s"read-side bucketed join must not shuffle:\n" +
          s"${j.queryExecution.executedPlan}")
    }
  }

  test("ensureBucketed registers an orphaned on-disk layout instead " +
      "of rewriting (the fresh-JVM case)") {
    tables
    // simulate a JVM restart: the warehouse files survive, the
    // in-memory catalog entry does not — copy the completed layout to
    // a name the catalog has never seen and ensure against it
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(wh, "graft_spec_li")
    val dst = new org.apache.hadoop.fs.Path(wh, "graft_spec_li_orphan")
    if (fs.exists(dst)) fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    spark.sql("DROP TABLE IF EXISTS graft_spec_li_orphan")
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    Bucketing.ensureBucketed(df, "graft_spec_li_orphan", "l_orderkey",
      buckets)
    // registered, not rewritten: the table serves the copied files
    assert(spark.table("graft_spec_li_orphan").inputFiles
      .forall(_.contains("graft_spec_li_orphan")))
    assert(spark.table("graft_spec_li_orphan").count() ==
      spark.table("graft_spec_li").count())
    // and the registered bucket spec still joins exchange-free
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val j = Bucketing.bucketedEquiJoin(spark, "graft_spec_li_orphan",
        "graft_spec_or", "l_orderkey", "o_orderkey")
      assert(exchanges(j) == 0,
        s"registered layout must keep the exchange-free join:\n" +
          s"${j.queryExecution.executedPlan}")
    }
  }

  test("ensureBucketed REWRITES an on-disk layout whose file set " +
      "contradicts the declared bucket count") {
    tables
    // the silent-misbucketing hazard: a layout written under an older
    // bucket-count constant must never be registered as-is — a bucketed
    // SMJ over wrong bucket hashing returns wrong join rows and a
    // timing-only bench would publish them. Orphan a 4-bucket layout,
    // then ensure with buckets=8: the validation must reject and rewrite.
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = new org.apache.hadoop.fs.Path(wh, "graft_spec_li")
    val dst = new org.apache.hadoop.fs.Path(wh, "graft_spec_li_stale")
    if (fs.exists(dst)) fs.delete(dst, true)
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false,
      spark.sparkContext.hadoopConfiguration)
    spark.sql("DROP TABLE IF EXISTS graft_spec_li_stale")
    val staleFiles = fs.listStatus(dst).map(_.getPath.getName).toSet
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    Bucketing.ensureBucketed(df, "graft_spec_li_stale", "l_orderkey",
      buckets * 2)
    // rewritten (new part files), correct row count, honest bucket spec
    val nowFiles = spark.table("graft_spec_li_stale").inputFiles
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    assert(nowFiles.intersect(staleFiles).isEmpty,
      "a count-mismatched layout must be rewritten, not registered")
    assert(spark.table("graft_spec_li_stale").count() ==
      spark.table("graft_spec_li").count())
  }

  test("ensureBucketed REWRITES a CATALOGED table whose bucket spec " +
      "contradicts the request (same-JVM / shared-metastore re-declare)") {
    tables
    // the catalog-side twin of the stale-disk test: the table EXISTS in
    // the catalog at 4 buckets; a re-declare at 8 must not short-circuit
    // on tableExists and silently serve the 4-bucket layout — under a
    // shared durable metastore (SCALING.md "Round 13 — the
    // bucketed-layout catalog, made durable") that would defeat the
    // exchange-free contract across processes
    val df = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    Bucketing.ensureBucketed(df, "graft_spec_li_respec", "l_orderkey",
      buckets)
    def specOf(t: String) = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(t)).bucketSpec.get
    assert(specOf("graft_spec_li_respec").numBuckets == buckets)
    val before = spark.table("graft_spec_li_respec").inputFiles.toSet
    // same spec → no-op (the amortization contract is untouched)
    Bucketing.ensureBucketed(df, "graft_spec_li_respec", "l_orderkey",
      buckets)
    assert(spark.table("graft_spec_li_respec").inputFiles.toSet == before)
    // different width → rewrite under the NEW spec
    Bucketing.ensureBucketed(df, "graft_spec_li_respec", "l_orderkey",
      buckets * 2)
    assert(specOf("graft_spec_li_respec").numBuckets == buckets * 2,
      "a re-declare at a new width must rewrite, not serve the old layout")
    assert(spark.table("graft_spec_li_respec").count() == df.count())
  }

  test("the same join without buckets shuffles both sides") {
    // contrast case: identical data read as flat parquet; broadcast
    // disabled so the planner can't hide the exchange behind a
    // small-side broadcast that a 100 TB fact-fact join wouldn't get
    tables
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice")
      val or = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
      val j = li.hint("merge")
        .join(or, col("l_orderkey") === col("o_orderkey"))
      assert(exchanges(j) == 2, "flat-parquet SMJ must exchange both sides")
    }
  }

  test("bucketed join matches the plain join's values") {
    tables
    val bucketed = Bucketing.bucketedEquiJoin(spark, "graft_spec_li",
        "graft_spec_or", "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    val plain = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .join(spark.read.parquet(s"$sfDir/orders.parquet"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
    assert(bucketed.collect().toSet == plain.collect().toSet)
  }

  test("an equality scan prunes to one bucket") {
    tables
    // autoBucketedScan treats bucketing purely as a shuffle-avoidance
    // device and reads the table flat for a bare filter query, which
    // forfeits bucket pruning — off, the equality predicate prunes the
    // point lookup to 1 of n bucket files
    withConf("spark.sql.sources.bucketing.autoBucketedScan.enabled" ->
        "false") {
      val key = spark.table("graft_spec_or")
        .select("o_orderkey").head().getLong(0)
      val scan = spark.table("graft_spec_or").where(col("o_orderkey") === key)
      val plan = scan.queryExecution.executedPlan.toString
      assert(plan.contains(s"SelectedBucketsCount: 1 out of $buckets"),
        s"expected single-bucket pruning in:\n$plan")
      assert(scan.count() >= 1)
    }
  }
}
