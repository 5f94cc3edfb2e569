package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared helpers for the driver-facing query battery.
  *
  * Determinism rules (SURVEY.md §7.3): every oracle-checked query is
  * ORDER'd on a unique key, money aggregates run in exact integer cents
  * (sum of bigints is order-independent; float summation is not), and
  * dedup uses either single-column keys or row_number tie-breaks.
  */
object QueryUtil {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Per-PROCESS scratch root for query-internal staging (stream
    * checkpoints/sinks, interchange round-trips), under the build's
    * target directory rather than a fixed world-readable /tmp path:
    * two concurrent JVMs running the battery (parallel test forks, a
    * probe beside a bench) must not wipe each other's live checkpoint
    * mid-query, and a predictable /tmp path is a symlink surface on
    * shared hosts. FIXED within the process — every writer under it is
    * mode(overwrite) or wipes its tag dir at entry, so repeated battery
    * passes reuse ONE copy per tag instead of leaking a snapshot per
    * pass (the r11 IoQueries lesson). Scratch of DEAD processes is
    * reaped on first touch, so the per-pid isolation cannot accumulate
    * across runs.
    */
  lazy val processScratch: java.io.File = {
    val base = new java.io.File(
      graft.wat.WatFixture.repoRoot, "target/graft-scratch")
    base.mkdirs()
    Option(base.listFiles()).foreach(_.foreach { f =>
      val stale = f.getName.startsWith("pid-") &&
        !f.getName.stripPrefix("pid-").toLongOption.exists(id =>
          ProcessHandle.of(id)
            .map[java.lang.Boolean](_.isAlive).orElse(false))
      if (stale) {
        def rmr(x: java.io.File): Unit = {
          Option(x.listFiles()).foreach(_.foreach(rmr)); x.delete()
        }
        rmr(f)
      }
    })
    val mine = new java.io.File(base, s"pid-${ProcessHandle.current().pid()}")
    mine.mkdirs()
    mine
  }

  /** A tag-scoped scratch path under [[processScratch]] (not created). */
  def scratchPath(tag: String): String =
    new java.io.File(processScratch, tag).getAbsolutePath

  /** Set `confs` on the session for the duration of `body`, then put
    * back what was there before: the prior value, or no setting at all
    * where there was none.
    */
  def withConfs[A](s: SparkSession, confs: (String, String)*)(
      body: => A): A = {
    val prior = confs.map { case (k, _) =>
      k -> Option.when(s.sessionState.conf.contains(k))(s.conf.get(k))
    }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Run `body` — streams checkpointing to `ckptDir` — with the
    * checkpoint confs only throwaway checkpoints may use. `ckptDir` must
    * lie under [[processScratch]], which holds only per-process scratch
    * that is wiped before reuse and never resumed across processes; a
    * durable checkpoint (HDFS/S3, or a job's own `_checkpoint`) keeps
    * Spark's defaults.
    *
    *  - Per-file checksums off. Spark 4.1 checksums every checkpoint
    *    file write through an async ChecksumCheckpointFileManager;
    *    thread dumps show each state-store delta-file CLOSE parked
    *    awaiting its checksum future — the dominant blocked time in
    *    every stateful micro-batch of the battery (OPTIMIZATION_r21.md).
    *    Corruption detection across restarts, the feature's purpose,
    *    protects nothing for a checkpoint that is never resumed.
    *  - The FileSystem-based checkpoint manager. Every checkpoint-file
    *    finalize (state-store delta close, offset/commit WAL write) goes
    *    through the default FileContext-based manager, whose local-fs
    *    rename resolves link status via hadoop Shell.execCommand — a
    *    fork+exec PER RENAME (thread dumps: 12 executor threads parked in
    *    RawLocalFileSystem.getFileLinkStatusInternal → FileUtil.readLink
    *    → ProcessBuilder.start during one micro-batch; q_interval_join_
    *    stream's state commits showed runMs 5983 vs cpuMs 1145 — blocked,
    *    not computing). The FileSystem-based manager renames via
    *    java.io.File.renameTo, atomic on a local POSIX fs with no
    *    subprocess; on HDFS/S3 the FileContext rename is the atomic one,
    *    which is why a durable checkpoint must never get this manager.
    */
  def withScratchCheckpoints[A](s: SparkSession, ckptDir: String)(
      body: => A): A = {
    val root = processScratch.toPath.toAbsolutePath.normalize
    require(java.nio.file.Paths.get(ckptDir).toAbsolutePath.normalize
      .startsWith(root),
      s"scratch checkpoint confs are for checkpoints under $root only, " +
        s"got: $ckptDir")
    withConfs(s,
      "spark.sql.streaming.checkpoint.fileChecksum.enabled" -> "false",
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing" +
          ".FileSystemBasedCheckpointFileManager"))(body)
  }

  /** `events.ts` arrives in one of two physical shapes depending on the
    * generator vintage: parquet TIMESTAMP(NANOS) (readable only as a
    * nanos long via the legacy conf — normalize with integer `div`, since
    * double division loses precision above 2^53 ns) or a native
    * TIMESTAMP(MICROS) column (isAdjustedToUTC=false → TIMESTAMP_NTZ in
    * Spark). Normalize both to session-TZ TimestampType so every
    * downstream query sees one type; the session TZ is UTC
    * (SessionBuilder), so the NTZ→TZ cast is value-preserving and the
    * DuckDB oracle's `ts::TIMESTAMP` lands on identical instants.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(table(spark, dir, "events"))
  }

  /** Dispatch on the physical type `ts` arrived as (see [[events]]);
    * factored out so the vintage matrix is unit-testable without
    * authoring parquet files Spark cannot write (TIMESTAMP(NANOS)). */
  def normalizeTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanos-as-long vintage: integer div keeps full precision
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _ =>
        // NTZ (µs, isAdjustedToUTC=false) or already TimestampType;
        // session TZ is UTC so the cast is value-preserving
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }

  /** Fan an under-parallelized frame out to the session's full core
    * count before per-row-heavy map work — the optimization-guide §2.5
    * remedy for unsplittable inputs ("one huge unsplittable file …
    * repartition immediately after the read"). The bench fixtures are
    * single-row-group parquet: Spark can split a parquet file no finer
    * than its row groups, so every scan here is ONE task and every
    * downstream mapPartitions / codegen stage would otherwise run on one
    * core while the other 31 idle (measured: q_zip_pipeline 8.7 s with
    * two ~2.3 s single-task stages; q_oov_bigrams 2.7 s with one 2.2 s
    * single-task stage).
    *
    * Scale-safe by construction, not by tuning:
    *  - the target is `defaultParallelism` (total executor cores), never
    *    a local constant;
    *  - the repartition keys on a caller-named column (deterministic
    *    hash — retry-safe, unlike round-robin over nondeterministic
    *    input, SPARK-38388);
    *  - it is SKIPPED when the plan already yields >= defaultParallelism
    *    scan partitions — a production multi-file / multi-row-group scan
    *    — so at 100 TB this introduces NO extra exchange and never
    *    becomes a corpus-wide shuffle.
    *
    * Call it on exchange-free (scan-level) frames only: the partition
    * probe walks `df.rdd`, which under AQE would materialize any
    * upstream query stages.
    */
  def fanOut(df: DataFrame, key: String): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else df.repartition(p, col(key))
  }

  /** Exact cents: 2-decimal doubles → bigint. round() kills the ~1e-9
    * binary-representation error; both Spark and DuckDB land on the same
    * integer, and bigint sums are order-independent (unlike double sums,
    * which would differ between engines/partitionings in the last ulp).
    */
  def cents(c: Column): Column = round(c * 100).cast("long")

  /** Integer-valued doubles (e.g. l_quantity) are exactly summable. */
  def wholeUnits(c: Column): Column = c.cast("long")

  /** Discounted revenue in exact integer units: cents(price) ×
    * (100 − cents(discount)). Sums of this divide by 10000.0 to get the
    * dollar value. ONE definition shared by every revenue query — the
    * rounding idiom must never drift between copies.
    */
  def revenueUnits(price: Column, discount: Column): Column =
    cents(price) * (lit(100) - cents(discount))
}
