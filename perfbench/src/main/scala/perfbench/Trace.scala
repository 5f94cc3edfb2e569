package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Engine-level counters for one traced phase. */
final class PhaseStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  var wallS = 0.0
  var streamBatches = 0L
  var streamCommitMs = 0L

  /** Wall time not covered by any stage interval: planning, job
    * submission, driver-side collects and commits.
    */
  def driverGapS: Double = {
    val spans = stageSpans.sortBy(_._1)
    var covered = 0L
    var (s0, e0) = (Long.MinValue, Long.MinValue)
    spans.foreach { case (s, e) =>
      if (s > e0) { if (e0 > s0) covered += e0 - s0; s0 = s; e0 = e }
      else e0 = math.max(e0, e)
    }
    if (e0 > s0) covered += e0 - s0
    math.max(0.0, wallS - covered / 1e3)
  }

  def taskSkew: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val med = Stats.median(taskMs.map(_.toDouble).toSeq)
      if (med > 0) taskMs.max / med else taskMs.max.toDouble
    }

  def metrics: Seq[(String, Double, String)] = Seq(
    ("jobs", jobs.toDouble, "count"),
    ("stages", stages.toDouble, "count"),
    ("tasks", tasks.toDouble, "count"),
    ("task_busy_s", busyMs / 1e3, "s"),
    ("task_cpu_s", cpuNs / 1e9, "s"),
    ("gc_s", gcMs / 1e3, "s"),
    ("driver_gap_s", driverGapS, "s"),
    ("shuffle_read_bytes", shuffleRead.toDouble, "bytes"),
    ("shuffle_write_bytes", shuffleWrite.toDouble, "bytes"),
    ("spill_bytes", spill.toDouble, "bytes"),
    ("failed_tasks", failedTasks.toDouble, "count"),
    ("task_skew", taskSkew, "ratio"))

  def add(o: PhaseStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    failedTasks += o.failedTasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; taskMs ++= o.taskMs; stageSpans ++= o.stageSpans
    wallS += o.wallS; streamBatches += o.streamBatches
    streamCommitMs += o.streamCommitMs
  }
}

/** The benchmark's own listeners: a `SparkListener` for jobs, stages and
  * tasks and a `StreamingQueryListener` for micro-batches, both
  * attributing events to the phase the harness named when it submitted
  * the work (carried as a job local property, so events that arrive late
  * on the async listener bus still land in the right phase).
  */
final class Tracer extends SparkListener {
  val Key = "perfbench.phase"
  private val phases = mutable.LinkedHashMap.empty[String, PhaseStats]
  private val stagePhase = mutable.HashMap.empty[Int, String]
  private val streamPhase = mutable.HashMap.empty[java.util.UUID, String]
  @volatile private var current = "idle"
  private var attached: SparkContext = _

  private def stats(p: String): PhaseStats = synchronized {
    phases.getOrElseUpdate(p, new PhaseStats)
  }

  private def phaseOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Key))).getOrElse(current)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    // delivered synchronously on the thread that starts the query, so
    // `current` is still the phase that started it
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamPhase(e.runId) = current }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      Tracer.this.synchronized {
        val s = stats(streamPhase.getOrElse(e.progress.runId, current))
        s.streamBatches += 1
        s.streamCommitMs += ms("walCommit") + ms("commitOffsets")
      }
    }
  }

  @volatile private var on = true

  /** Register on a (possibly restarted) session while tracing is on;
    * idempotent per context. The session factory calls this, so the
    * listeners follow every `Cc2Dataset.restartSession`.
    */
  def attach(spark: SparkSession): Unit = synchronized {
    if (on) {
      if (attached ne spark.sparkContext) {
        attached = spark.sparkContext
        spark.sparkContext.addSparkListener(this)
      }
      spark.streams.removeListener(streams)
      spark.streams.addListener(streams)
      spark.sparkContext.setLocalProperty(Key, current)
    }
  }

  /** Tracing on/off for the current session and any it is restarted into. */
  def enable(spark: SparkSession): Unit = { on = true; attach(spark) }

  def disable(spark: SparkSession): Unit = synchronized {
    on = false
    spark.sparkContext.removeSparkListener(this)
    spark.streams.removeListener(streams)
    attached = null
  }

  /** Run `body` as phase `name`, recording its wall time; the phase's
    * events are all delivered when this returns.
    */
  def phase[A](name: String)(body: => A): A = {
    val prev = current
    current = name
    SparkSession.getActiveSession.foreach(_.sparkContext.setLocalProperty(Key, name))
    val t0 = System.nanoTime()
    try body
    finally {
      val s = stats(name)
      synchronized { s.wallS += (System.nanoTime() - t0) / 1e9 }
      current = prev
      SparkSession.getActiveSession.foreach { s =>
        s.sparkContext.setLocalProperty(Key, prev)
        org.apache.spark.ListenerDrain(s.sparkContext)
      }
    }
  }

  /** Counters per phase so far. */
  def snapshot: Map[String, PhaseStats] = synchronized { phases.toMap }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = phaseOf(e.properties)
    synchronized {
      stats(p).jobs += 1
      e.stageIds.foreach(stagePhase(_) = p)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stagePhase(e.stageInfo.stageId) = phaseOf(e.properties)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stats(stagePhase.getOrElse(i.stageId, current))
    s.stages += 1
    for (a <- i.submissionTime; b <- i.completionTime) s.stageSpans += ((a, b))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stagePhase.getOrElse(e.stageId, current))
    s.tasks += 1
    if (!e.taskInfo.successful) s.failedTasks += 1
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.busyMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
