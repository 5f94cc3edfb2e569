package perfbench

import java.io.{ByteArrayInputStream, File}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ops.{Dedup, PartMerge, Shuffle}
import graft.pipeline.{Cc2Config, Cc2Dataset}
import graft.wat.{WatExtract, WatReader}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Attempted/failed operation counts. An operation is one pipeline job,
  * one battery query or one output check; a throw or a failed check
  * counts against it and never aborts the run.
  */
final class Ops {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += s"$what: $why"
    System.err.println(s"[perfbench] FAILED $what: $why")
  }

  /** Count one operation; `body` returns None on success or a reason. */
  def op(what: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(fail(what, _))
    catch {
      case e: Throwable =>
        fail(what, Option(e.getMessage).getOrElse(e.toString).linesIterator
          .toSeq.headOption.getOrElse(e.toString).take(300))
    }
  }
}

/** One measured run of one workload in a fresh JVM:
  *
  *   Harness --workload W --fixtures DIR --work DIR --trace 0|1
  *           --out RESULT.json [--trace-out TRACE.json] [--expect-wrong 1]
  *
  * Closed loop: one driver thread submits jobs back to back on a
  * `local[nproc]` session, each starting when the previous one ends.
  * Set-up (session build plus one warm-up job) is repeated
  * [[SetupRounds]] times, stopping the session in between, and reported
  * as the median. The timed loop then runs the workload's fixed number
  * of jobs and reports per-job medians. Every job's output is checked
  * outside its measured scope. With `--trace 1` the run instead
  * measures the per-layer metrics by timing calls into each layer's
  * public functions, with the benchmark's own listeners attached.
  */
object Harness {

  val cores: Int = Runtime.getRuntime.availableProcessors()
  val SetupRounds = 2

  def parseFlags(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(
        s"expected --flag value pairs, got ${other.mkString(" ")}")
    }.toMap

  private val osBean = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** A metric as printed: name, value, unit. */
  type M = (String, Double, String)

  def main(args: Array[String]): Unit = {
    val a = parseFlags(args)
    val fixtures = new File(a("fixtures"))
    val work = new File(a("work"))
    val tracing = a.get("trace").contains("1")
    val expectWrong = a.get("expect-wrong").contains("1")
    val tracer = if (tracing) Some(new Tracer) else None
    val builds = mutable.ArrayBuffer.empty[Double]
    val factory: () => SparkSession = () => {
      val fresh = SparkSession.getActiveSession.isEmpty
      val (s, dt) = time(graft.SessionBuilder.local(cores, appName = "perfbench"))
      if (fresh) builds += dt
      s.sparkContext.setLogLevel("ERROR")
      tracer.foreach(_.attach(s))
      s
    }
    val ops = new Ops
    val w: Workload = a("workload") match {
      case "floors" => new FloorsWorkload(fixtures, work, ops)
      case _ => new PipelineWorkload(fixtures, work, ops, factory, expectWrong)
    }

    // set-up: process start (first round) or session restart, plus one
    // checked warm-up job
    val restarts = mutable.ArrayBuffer.empty[Double]
    val setups = (1 to SetupRounds).map { r =>
      val t0 = System.nanoTime()
      val before =
        if (r == 1) java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
        else 0.0
      if (r == 1) factory()
      else restarts += time(Cc2Dataset.restartSession(factory))._2
      w.job(s"setup-$r")
      before + (System.nanoTime() - t0) / 1e9
    }

    val metrics: Seq[M] =
      if (!tracing) {
        val samples = (0 until w.timedJobs).map(i => w.job(s"timed-$i"))
        val walls = samples.map(_._1)
        System.err.println(f"[perfbench] ${samples.size} timed jobs, walls " +
          walls.map(x => f"$x%.3f").mkString(" "))
        Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("job_s", Stats.median(walls), "s"),
          ("records_per_core_s", Stats.median(walls.map(w.records / _ / cores)), "1/s"),
          ("cpu_s", Stats.median(samples.map(_._2)), "s"))
      } else {
        val t = tracer.get
        val layers = w.traced(t)
        val phases = t.snapshot
        val job = new PhaseStats
        phases.collect { case (p, s) if w.jobPhase(p) => s }.foreach(job.add)
        val sparkM = job.metrics.map { case (n, v, u) => (s"spark.$n", v, u) }
        val all = Seq(
          ("session.build_s", Stats.median(builds.toSeq), "s"),
          ("pipeline.restart_s", Stats.median(restarts.toSeq), "s")) ++
          layers ++ sparkM :+ (("proc.peak_rss_mb", peakRssMb(), "MB"))
        Workloads.writeString(new File(a("trace-out")),
          traceJson(a("workload"), all, phases, w.detail))
        all
      }
    w.finish()
    SparkSession.getActiveSession.foreach(_.stop())
    Workloads.writeString(new File(a("out")), resultJson(metrics, ops, w.extra))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def resultJson(ms: Seq[M], ops: Ops, extra: String): String = {
    import Workloads.jstr
    val m = ms.map { case (n, v, u) =>
      s"""${jstr(n)}: {"value": ${num(v)}, "unit": ${jstr(u)}}""" }
    s"""{"attempted": ${ops.attempted}, "failed": ${ops.failed}, """ +
      s""""failures": ${ops.failures.map(jstr).mkString("[", ", ", "]")}, """ +
      s""""metrics": {${m.mkString(", ")}}$extra}"""
  }

  def traceJson(workload: String, ms: Seq[M], phases: Map[String, PhaseStats],
      detail: Seq[(String, Double)]): String = {
    import Workloads.jstr
    val ph = phases.toSeq.sortBy(_._1).map { case (p, s) =>
      val kv = (("wall_s", s.wallS, "s") +: s.metrics :+
        ("stream_batches", s.streamBatches.toDouble, "count") :+
        ("stream_commit_s", s.streamCommitMs / 1e3, "s"))
        .map { case (n, v, _) => s"${jstr(n)}: ${num(v)}" }
      s"${jstr(p)}: {${kv.mkString(", ")}}"
    }
    val m = ms.map { case (n, v, u) =>
      s"""${jstr(n)}: {"value": ${num(v)}, "unit": ${jstr(u)}}""" }
    val d = detail.map { case (k, v) => s"${jstr(k)}: ${num(v)}" }
    s"""{"workload": ${jstr(workload)}, "metrics": {${m.mkString(", ")}},""" +
      s""" "phases": {${ph.mkString(", ")}}, "detail": {${d.mkString(", ")}}}"""
  }
}

/** What the harness needs from a workload. */
trait Workload {
  /** Run one job (pipeline run or battery pass) and check it; returns the
    * wall and process CPU seconds of the job alone, its check excluded.
    */
  def job(tag: String): (Double, Double)
  /** Input records per job, for `records_per_core_s`. */
  def records: Double
  /** Timed jobs per run. The count is fixed, so every timed job sits at
    * the same point of the JIT warm-up.
    */
  def timedJobs: Int
  /** The per-layer metrics (traced run only). */
  def traced(t: Tracer): Seq[Harness.M]
  /** The traced phases whose engine counters make up the `spark.*` metrics. */
  def jobPhase(phase: String): Boolean = phase == "job"
  /** Extra trace-file entries (per-query walls). */
  def detail: Seq[(String, Double)] = Nil
  def finish(): Unit = ()
  /** Extra result-file fields, each starting with ", ". */
  def extra: String = ""
}

object Layers {
  /** Every per-layer metric, zero where a workload does not exercise the layer. */
  val zero: Seq[Harness.M] = Seq(
    ("read.fetch_s", "s"), ("read.gunzip_s", "s"), ("read.frame_s", "s"),
    ("read.records", "count"), ("read.bytes_in", "bytes"), ("read.bytes_out", "bytes"),
    ("read.mb_per_s", "MB/s"), ("read.corrupt_archives", "count"),
    ("extract.payloads_s", "s"), ("extract.links_s", "s"), ("extract.self_s", "s"),
    ("extract.links", "count"), ("extract.links_per_record", "ratio"),
    ("extract.task_max_s", "s"), ("extract.task_median_s", "s"),
    ("dedup.s", "s"), ("dedup.rows_in", "count"), ("dedup.rows_out", "count"),
    ("dedup.keep_ratio", "ratio"),
    ("shuffle.sort_s", "s"), ("shuffle.repartition_s", "s"),
    ("shuffle.partitions_out", "count"),
    ("pipeline.write_s", "s"), ("pipeline.files_written", "count"),
    ("pipeline.bytes_written", "bytes"), ("pipeline.recount_s", "s"),
    ("pipeline.part_s", "s"), ("pipeline.merge_s", "s"),
    ("pipeline.unattributed_s", "s"),
    ("floors.cluster_s", "s"), ("floors.stream_s", "s"), ("floors.bpe_s", "s"),
    ("floors.stream_batches", "count"),
    ("floors.stream_commit_s", "s"),
    ("trace.overhead_s", "s")
  ).map { case (n, u) => (n, 0.0, u) }

  /** `zero` with the given values filled in, in the canonical order. */
  def fill(values: Map[String, Double]): Seq[Harness.M] = {
    val unknown = values.keySet -- zero.map(_._1)
    require(unknown.isEmpty, s"unlisted layer metrics: $unknown")
    zero.map { case (n, v, u) => (n, values.getOrElse(n, v), u) }
  }
}

/** A `Cc2Dataset.run` workload with the run's defaults (single part,
  * shuffle on) over the fleet pool's document type. `fixtures/expected.json`
  * carries its inputs and seed and the expected output, derived from the
  * no-Spark `ProcessWat` reference.
  */
final class PipelineWorkload(fixtures: File, work: File, ops: Ops,
    factory: () => SparkSession, expectWrong: Boolean) extends Workload {
  import Harness.time

  private val exp = Workloads.readJson(new File(fixtures, "expected.json"))
  private val inputs = exp.get("inputs").elements().asScala.map(_.asText).toSeq
  private val docType = Gen.DocType
  private val expRows = exp.get("rows").asLong
  private val expMd5 =
    if (expectWrong) "0" * 32 else exp.get("uid_md5").asText
  private val seed = exp.get("seed").asLong
  private val outRoot = new File(work, "out")
  private val shuffle = Cc2Config(outputPath = "").shuffle
  /** Parts the traced run splits the inputs into to time the multipart path. */
  private val probeParts = 2

  ops.op("golden fleet64 extraction") {
    exp.get("golden").asText match {
      case "ok" => None
      case other => Some(s"ProcessWat over the pinned bench fleet: $other")
    }
  }

  val records: Double = exp.get("records").asDouble

  /** Jobs within a run vary by up to 20 % on a 4-core host, so a run
    * reports the median of five.
    */
  val timedJobs = 5

  private def spark: SparkSession = SparkSession.active

  private def check(jobPath: String, n: Long): Option[String] = {
    val uids = spark.read.parquet(jobPath).select("uid").collect().map(_.getString(0))
    val md5 = Workloads.uidDigest(uids)
    if (n != expRows) Some(s"run returned $n rows, expected $expRows")
    else if (uids.length != expRows) Some(s"${uids.length} rows written, expected $expRows")
    else if (md5 != expMd5) Some(s"uid md5 $md5 != $expMd5")
    else None
  }

  /** One `Cc2Dataset.run` with its own output path, measured alone (as
    * phase "job" when traced), then checked and deleted.
    */
  private def run(tag: String, tracer: Option[Tracer]): (Double, Double) = {
    var measured = (Double.NaN, Double.NaN)
    ops.op(s"pipeline job $tag") {
      val cfg = Cc2Config(outputPath = new File(outRoot, tag).getAbsolutePath,
        documentType = docType, seed = seed)
      def body = Cc2Dataset.run(cfg, inputs, factory)
      val c0 = Harness.cpuS()
      val ((jobPath, n), wall) = time(tracer.fold(body)(_.phase("job")(body)))
      measured = (wall, Harness.cpuS() - c0)
      try check(jobPath, n) finally Workloads.rmr(new File(outRoot, tag))
    }
    measured
  }

  def job(tag: String): (Double, Double) = run(tag, None)

  override def finish(): Unit = Workloads.rmr(outRoot)

  def traced(t: Tracer): Seq[Harness.M] = {
    val v = mutable.LinkedHashMap.empty[String, Double]
    def drain(df: org.apache.spark.sql.DataFrame): Long = df.queryExecution.toRdd.count()

    // overhead: the same job untraced, then traced
    t.disable(spark)
    val (untraced, _) = job("untraced")
    t.enable(spark)
    val (pipelineS, _) = run("traced", Some(t))
    v("trace.overhead_s") = pipelineS - untraced

    // read: single-threaded over the input list, cumulative deltas
    var fetch, gunzip, frame = 0.0
    var bytesIn, bytesOut, recs, corrupt = 0L
    inputs.foreach { p =>
      val (bytes, f) = time(WatReader.fetchAllBytes(p).getOrElse(Array.emptyByteArray))
      fetch += f
      bytesIn += bytes.length
      val (n, g) = time {
        val in = WatReader.decompressed(new ByteArrayInputStream(bytes))
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        try {
          var k = in.read(buf)
          while (k >= 0) { total += k; k = in.read(buf) }
        } catch { case _: java.io.IOException => () } // truncated archive
        total
      }
      gunzip += g
      bytesOut += n
      val (_, r) = time(WatReader.records(new ByteArrayInputStream(bytes), onCorrupt = _ => ())
        .foreach(_ => ()))
      frame += r - g
      var bad = false
      recs += WatReader.metadataPayloads(p, onCorrupt = _ => bad = true).size
      if (bad) corrupt += 1
    }
    v ++= Seq("read.fetch_s" -> fetch, "read.gunzip_s" -> gunzip, "read.frame_s" -> frame,
      "read.records" -> recs.toDouble, "read.bytes_in" -> bytesIn.toDouble,
      "read.bytes_out" -> bytesOut.toDouble,
      "read.mb_per_s" -> bytesOut / 1e6 / (fetch + gunzip + frame),
      "read.corrupt_archives" -> corrupt.toDouble)

    // extract → dedup → shuffle → write → recount as cumulative prefixes
    // of the single-part plan, each drained through the full physical plan
    val (_, payloadsS) = t.phase("extract.payloads")(time(drain(WatExtract.payloads(spark, inputs))))
    def links = WatExtract.fromPaths(spark, inputs, docType).toDF()
    val (nLinks, linksS) = t.phase("extract.links")(time(drain(links)))
    val linkTasks = t.snapshot.get("extract.links").map(_.taskMs.map(_ / 1e3).toSeq).getOrElse(Nil)
    def deduped = Dedup.byKey(links, Seq("uid"))
    val (nUnique, dedupS) = t.phase("dedup")(time(drain(deduped)))
    def shuffled = if (shuffle) Shuffle.randomShuffle(deduped, seed) else deduped
    val (_, sortS) = t.phase("shuffle.sort")(time(drain(shuffled)))
    def out = Shuffle.repartitionForOutput(shuffled, inputs.size)
    val (_, repS) = t.phase("shuffle.repartition")(time(drain(out)))
    val dir = new File(outRoot, "layers")
    val (_, writeS) = t.phase("pipeline.write")(time(
      out.write.mode("overwrite").parquet(dir.getAbsolutePath)))
    val written = Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet"))
    val (_, recountS) = t.phase("pipeline.recount")(time(
      spark.read.parquet(dir.getAbsolutePath).count()))
    v ++= Seq("extract.payloads_s" -> payloadsS, "extract.links_s" -> linksS,
      "extract.self_s" -> (linksS - payloadsS), "extract.links" -> nLinks.toDouble,
      "extract.links_per_record" -> nLinks.toDouble / recs,
      "extract.task_max_s" -> (if (linkTasks.isEmpty) 0.0 else linkTasks.max),
      "extract.task_median_s" -> (if (linkTasks.isEmpty) 0.0 else Stats.median(linkTasks)),
      "dedup.s" -> (dedupS - linksS), "dedup.rows_in" -> nLinks.toDouble,
      "dedup.rows_out" -> nUnique.toDouble,
      "dedup.keep_ratio" -> nUnique.toDouble / math.max(1L, nLinks),
      "shuffle.sort_s" -> (if (shuffle) sortS - dedupS else 0.0),
      "shuffle.repartition_s" -> (repS - (if (shuffle) sortS else dedupS)),
      "shuffle.partitions_out" -> Shuffle.outputPartitions(inputs.size).toDouble,
      "pipeline.write_s" -> (writeS - repS),
      "pipeline.files_written" -> written.length.toDouble,
      "pipeline.bytes_written" -> written.map(_.length).sum.toDouble,
      "pipeline.recount_s" -> recountS)

    // the multipart composition over the same inputs: each part through
    // processOnePart (unshuffled, as the multipart run writes parts), then
    // their merge; the run itself restarts the session before every part
    // and before the merge
    val chunks = inputs.grouped(math.ceil(inputs.size.toDouble / probeParts).toInt).toSeq
    val partDir = new File(outRoot, "parts")
    val (_, partS) = t.phase("pipeline.parts")(time(chunks.zipWithIndex.foreach {
      case (c, i) => Cc2Dataset.processOnePart(spark, c, s"$partDir/part_$i",
        docType, shuffle = false, seed)
    }))
    val (_, mergeS) = t.phase("pipeline.merge")(time(Cc2Dataset.dedupRepartitionCount(
      PartMerge.unionParts(spark, chunks.indices.map(i => s"$partDir/part_$i")),
      s"$partDir/merged", inputs.size, shuffle, seed)))
    v ++= Seq("pipeline.part_s" -> partS, "pipeline.merge_s" -> mergeS,
      "pipeline.unattributed_s" -> (pipelineS - writeS - recountS))
    Layers.fill(v.toMap)
  }
}

/** The floors query set over the tables in `fixtures`. Row counts of
  * every counted pass and the result dump of the first pass are compared
  * against DuckDB over the same tables after the run.
  */
final class FloorsWorkload(fixtures: File, work: File, ops: Ops) extends Workload {
  import Harness.time

  private val data = fixtures.getAbsolutePath
  private val families = Workloads.floorsQueries
  private val fns = graft.SparkEntry.queries
  private val walls = mutable.LinkedHashMap.empty[String, Double]
  private val rows = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
  private val verifyDir = new File(work, "verify")

  Workloads.writeString(new File(work, "oracle_sql.json"), {
    import Workloads.jstr
    val oracle = graft.SparkEntry.oracleSql
    families.map { case (q, _) =>
      s"${jstr(q)}: ${oracle.get(q).map(jstr).getOrElse("null")}" }.mkString("{", ", ", "}")
  })

  val records: Double = Workloads.readJson(new File(fixtures, "tables.json"))
    .elements().asScala.map(_.asDouble).sum

  /** Passes still speed up with JIT warm-up (the first timed pass is about
    * 20 % slower than the next two), so the median of three is a warm pass;
    * one pass alone gave run-to-run spreads up to 36 %.
    */
  val timedJobs = 3

  /** One pass over the query set. Each query is drained through its full
    * physical plan (`toRdd.count()`, as the battery times it) and its row
    * count recorded; with `dump` it is instead written out (as the
    * battery's correctness dump does) for the full result comparison.
    */
  private def pass(tag: String, dump: Boolean,
      phase: (String, () => Unit) => Unit): (Double, Double) = {
    val spark = SparkSession.active
    val c0 = Harness.cpuS()
    val wall = Harness.time {
      families.foreach { case (q, fam) =>
        phase(fam, () => ops.op(s"$q $tag") {
          val (n, dt) = time {
            val df = fns(q)(spark, data)
            if (dump) {
              df.coalesce(1).write.mode("overwrite")
                .parquet(new File(verifyDir, q).getAbsolutePath)
              None
            } else Some(df.queryExecution.toRdd.count())
          }
          walls(q) = dt
          n.foreach(rows.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += _)
          None
        })
      }
    }._2
    (wall, Harness.cpuS() - c0)
  }

  def job(tag: String): (Double, Double) = {
    val measured = pass(tag, dump = tag == "setup-1", (_, body) => body())
    System.err.println(f"[perfbench] pass $tag ${measured._1}%.2f s: " +
      walls.map { case (q, s) => f"$q=$s%.2f" }.mkString(" "))
    measured
  }

  def traced(t: Tracer): Seq[Harness.M] = {
    t.disable(SparkSession.active)
    val (untraced, _) = job("untraced")
    t.enable(SparkSession.active)
    val (traced, _) = pass("traced", dump = false, (fam, body) => t.phase(s"floors.$fam")(body()))
    val ph = t.snapshot
    def fam(f: String) = ph.getOrElse(s"floors.$f", new PhaseStats)
    Layers.fill(Map(
      "floors.cluster_s" -> fam("cluster").wallS,
      "floors.stream_s" -> fam("stream").wallS,
      "floors.bpe_s" -> fam("bpe").wallS,
      "floors.stream_batches" -> fam("stream").streamBatches.toDouble,
      "floors.stream_commit_s" -> fam("stream").streamCommitMs / 1e3,
      "trace.overhead_s" -> (traced - untraced)))
  }

  override def jobPhase(phase: String): Boolean = phase.startsWith("floors.")

  override def detail: Seq[(String, Double)] = walls.toSeq.map { case (q, s) => s"$q.wall_s" -> s }

  override def extra: String = {
    import Workloads.jstr
    val r = rows.map { case (q, ns) => s"${jstr(q)}: ${ns.mkString("[", ", ", "]")}" }
    s""", "verify_dir": ${jstr(verifyDir.getAbsolutePath)}, "rows": {${r.mkString(", ")}}"""
  }
}
