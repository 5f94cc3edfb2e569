package graft

import org.apache.spark.sql.SparkSession

import graft.functions.GraftFunctions

/** Session construction (N1/N2, SURVEY.md §2.11): the one place a graft
  * session is built. A local builder for tests/dev, a cluster builder
  * carrying the throughput configuration a Common-Crawl-scale job needs —
  * re-expressed from public Spark/Hadoop documentation (hadoop-aws S3A
  * performance options, Spark AQE/Kryo tuning), mirroring what the
  * reference tunes by hand (cc2dataset/spark_session_builder.py:29-75) —
  * and [[forMaster]], which picks between them from a master string.
  */
object SessionBuilder {

  /** Optimizer rules excluded in every graft session.
    *
    * InferFiltersFromGenerate synthesizes `size(e) > 0 AND isnotnull(e)`
    * below each explode/posexplode and pushes it toward the scan with
    * the GENERATOR EXPRESSION INLINED. Our generators are expensive
    * per-row expressions over document text (tokenization, shingling,
    * char-split), so the "free" inferred filter re-evaluates the whole
    * expression a second time — below any fan-out exchange, i.e. on the
    * single scan task (the r10 alias-substitution class; six operators
    * already carry per-site workarounds — hash-after-explode,
    * posexplode_outer). The rule's upside is skipping rows whose array
    * is empty, which explode drops anyway and which parquet cannot use
    * as a pushed filter (no size() predicate support) — measured ~0 for
    * every operator here, against a measured +1.2 s per affected query
    * at sf0.1. Scale-independent: plan shape only, identical results.
    */
  val ExcludedOptimizerRules: String =
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"

  /** Confs every graft session carries, local or cluster. */
  private val Shared: Seq[(String, String)] = Seq(
    // flaky-fetch tolerance in depth (paired with the in-task retry in
    // WatReader; spark_session_builder.py:44). `local[N]` ignores it —
    // Spark fixes a local master's task failures at 1 — so it only acts
    // on local-cluster and cluster masters
    "spark.task.maxFailures" -> "10",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.optimizer.excludedRules" -> ExcludedOptimizerRules,
    // generated-class cache (default 100 entries): a battery of 221
    // queries × several codegen units each evicts constantly, so every
    // pass re-runs janino + C2 on identical code — pure compile churn
    // (measured: q_bpe_encode pass walls decay 13.5 → 4.9 s over 12
    // passes as compilation amortizes). Any long-lived session
    // re-planning similar queries wants compiled-code reuse; the memory
    // cost is bounded (generated classes, not data)
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    // trust the write-time bucket sort on read (safe: Spark still
    // re-sorts any bucket with more than one file; Bucketing writes
    // exactly one sorted file per bucket so SMJs stream sort-free)
    "spark.sql.legacy.bucketedTableScan.outputOrdering" -> "true")

  private val LocalN = raw"local\[\s*([0-9]+|\*)\s*(?:,\s*[0-9]+\s*)?\]".r
  private val LocalCluster =
    raw"local-cluster\[\s*([0-9]+)\s*,\s*([0-9]+)\s*,\s*([0-9]+)\s*\]".r

  /** Task cores a master string fixes: `local` 1, `local[N]` and
    * `local[N,F]` N, `local[*]` the host's processors,
    * `local-cluster[n,c,m]` n*c; None for a cluster manager's master.
    */
  def masterCores(master: String): Option[Int] = master match {
    case "local" => Some(1)
    case LocalN("*") => Some(Runtime.getRuntime.availableProcessors())
    case LocalN(n) => Some(n.toInt)
    case LocalCluster(n, c, _) => Some(n.toInt * c.toInt)
    case _ => None
  }

  /** The confs of a session on a local or local-cluster master. Bare
    * `local` means `local[cores]` (reference parity: `--master local`
    * runs on `--num_cores`); any other master runs on the cores its
    * string names, and that count sizes the shuffle. A
    * `local-cluster[n,c,m]` master runs n separate executor JVMs with c
    * cores and m MB each: its executors request exactly the m MB the
    * worker offers (the default 1g would under-use large workers and
    * over-ask small ones) and get the driver's class path, which holds
    * the application classes and the Spark jars they need.
    */
  def localConf(master: String, cores: Int,
      memGb: Int): Seq[(String, String)] = {
    val m = if (master == "local") s"local[$cores]" else master
    val executors = m match {
      case LocalCluster(_, _, mb) => Seq(
        "spark.executor.memory" -> s"${mb}m",
        "spark.executor.extraClassPath" ->
          sys.props.getOrElse("java.class.path", ""))
      case _ => Nil
    }
    Seq("spark.master" -> m,
      "spark.driver.memory" -> s"${memGb}g",
      "spark.sql.shuffle.partitions" ->
        masterCores(m).getOrElse(cores).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false") ++ Shared ++ executors
  }

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
      memGb: Int = 8, appName: String = "graft"): SparkSession =
    build(appName, localConf(s"local[$cores]", cores, memGb))

  /** Cluster session for wide WAT-extraction jobs. Key choices (beyond
    * the shared set):
    *  - 4000 shuffle partitions as the pre-AQE ceiling; AQE coalesces
    *    down at runtime instead of hand-tuning per job
    *  - Kryo for the DocLink-heavy shuffles
    *  - S3A: connection pool + thread pool sized for whole-file GETs,
    *    sequential fadvise (we read WATs front-to-back), fast multipart
    *    upload for the parquet commit
    */
  def cluster(master: String, executorCores: Int = 128,
      executorMemGb: Int = 240, appName: String = "graft"): SparkSession =
    build(appName, Seq(
      "spark.master" -> master,
      "spark.executor.cores" -> executorCores.toString,
      "spark.executor.memory" -> s"${executorMemGb}g",
      "spark.sql.shuffle.partitions" -> "4000",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer",
      "spark.sql.parquet.compression.codec" -> "snappy",
      "spark.hadoop.fs.s3a.connection.maximum" -> "2048",
      "spark.hadoop.fs.s3a.threads.max" -> "512",
      "spark.hadoop.fs.s3a.experimental.input.fadvise" -> "sequential",
      "spark.hadoop.fs.s3a.fast.upload" -> "true",
      "spark.hadoop.fs.s3a.multipart.size" -> "64M",
      "spark.hadoop.fs.s3a.block.size" -> "128M") ++ Shared)

  /** The session a master string asks for — what `SPARK_GRAFT_MASTER`
    * and `Main --master` resolve through. `local`, `local[...]` and
    * `local-cluster[...]` get [[localConf]]; any other master is a
    * cluster manager's and gets [[cluster]] with `cores` and `memGb` per
    * executor.
    */
  def forMaster(master: String,
      cores: Int = Runtime.getRuntime.availableProcessors(),
      memGb: Int = 8, appName: String = "graft"): SparkSession =
    if (master.startsWith("local")) {
      require(masterCores(master).isDefined, "expected local, local[N], " +
        s"local[*] or local-cluster[n,c,m], got: $master")
      build(appName, localConf(master, cores, memGb))
    } else cluster(master, cores, memGb, appName)

  private def build(appName: String,
      confs: Seq[(String, String)]): SparkSession =
    withGraftFunctions(confs.foldLeft(
      SparkSession.builder().appName(appName)) { case (b, (k, v)) =>
        b.config(k, v)
      }.getOrCreate())

  def withGraftFunctions(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    spark
  }
}
