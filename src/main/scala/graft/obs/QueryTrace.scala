package graft.obs

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The one task listener: what the scale scenarios, QueryProfile and
  * FaultProbe read off a run. TaskEnd-based counters (spill, shuffle
  * write, max task ms, failed tasks), executor removals, a job count and
  * one row per completed stage. Callers [[reset]] before the work they
  * measure and read [[counters]] / [[stages]] after [[settle]]: listener
  * events drain asynchronously after the job returns.
  */
final class QueryTrace extends SparkListener {
  private val spilled = new AtomicLong
  private val shuffleWritten = new AtomicLong
  private val maxTaskMs = new AtomicLong
  private val failedTasks = new AtomicLong
  private val executorsRemoved = new AtomicLong
  private val jobs = new AtomicLong
  private val stageToJob = new ConcurrentHashMap[Int, Int]
  private val stageRows =
    new java.util.concurrent.ConcurrentLinkedQueue[QueryTrace.StageRow]

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    js.stageIds.foreach(stageToJob.put(_, js.jobId))
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val wall = (for (s <- si.submissionTime; c <- si.completionTime)
      yield c - s).getOrElse(0L)
    val m = si.taskMetrics
    stageRows.add(QueryTrace.StageRow(
      stageToJob.getOrDefault(si.stageId, -1), si.stageId,
      si.name.linesIterator.nextOption().getOrElse("").take(90),
      si.numTasks, wall, m.executorRunTime, m.executorCpuTime / 1000000L,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      spilled.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
    if (te.taskInfo != null)
      maxTaskMs.accumulateAndGet(te.taskInfo.duration,
        (a, b) => math.max(a, b))
    if (te.reason != org.apache.spark.Success) failedTasks.incrementAndGet()
  }

  override def onExecutorRemoved(e: SparkListenerExecutorRemoved): Unit =
    executorsRemoved.incrementAndGet()

  /** Zero every counter and drop the stage rows. */
  def reset(): Unit = {
    Seq(spilled, shuffleWritten, maxTaskMs, failedTasks, executorsRemoved,
      jobs).foreach(_.set(0))
    stageToJob.clear()
    stageRows.clear()
  }

  def counters: QueryTrace.Counters = QueryTrace.Counters(spilled.get,
    shuffleWritten.get, maxTaskMs.get, failedTasks.get,
    executorsRemoved.get, jobs.get)

  /** Completed stages since the last [[reset]], in completion order. */
  def stages: Seq[QueryTrace.StageRow] = {
    import scala.jdk.CollectionConverters._
    stageRows.asScala.toSeq
  }
}

object QueryTrace {

  final case class Counters(spillBytes: Long, shuffleWriteBytes: Long,
      maxTaskMs: Long, failedTasks: Long, executorsRemoved: Long,
      jobs: Long)

  final case class StageRow(jobId: Int, stageId: Int, name: String,
      numTasks: Int, wallMs: Long, runMs: Long, cpuMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long)

  /** A new trace registered on `spark`'s listener bus. */
  def attach(spark: SparkSession): QueryTrace = {
    val t = new QueryTrace
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Listener-bus settle: the bus is private to Spark, and task-end
    * events land within milliseconds of the job returning, so a bounded
    * sleep before reading is enough for a probe.
    */
  def settle(): Unit = Thread.sleep(300)
}
