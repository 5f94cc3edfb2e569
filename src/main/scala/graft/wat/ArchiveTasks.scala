package graft.wat

import org.apache.hadoop.conf.Configuration
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.util.SerializableConfiguration

/** The one-task-per-archive Spark wrapper of the single-reader archive
  * formats — WET ([[WetText.docs]]), CDXJ and CDX-11 index shards
  * ([[Cdxj.indexFrame]], [[Cdxj.legacyIndexFrame]]) and the cc-index
  * builders ([[CcIndex.buildIndex]], [[CcIndex.buildIndexFromRecords]]) —
  * plus the manifest intake's per-archive fetch
  * ([[WatExtract.extractStreamFromManifests]]). WAT and raw WARC are
  * read only through their DataSourceV2 sources (graft.sources).
  *
  * Broadcast the Hadoop conf once, one partition per path (the
  * reference's parallelization unit, main.py:273-274), and close the
  * per-path [[ClosingIterator]] at task completion.
  */
object ArchiveTasks {

  /** The session Hadoop conf (S3A credentials/tuning), broadcast once
    * for every task of a job — a bare `new Configuration()` on the
    * executors would silently drop every spark.hadoop.* setting.
    */
  def broadcastConf(spark: SparkSession): Broadcast[SerializableConfiguration] =
    spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sparkContext.hadoopConfiguration))

  /** Hand one opened archive to its task and close it when the task
    * completes — a limit/take/kill ends the task without exhausting the
    * iterator, and on the streaming-decode path that would strand an
    * open FS/S3 handle per in-flight archive.
    */
  def closeAtTaskEnd[T](it: ClosingIterator[T]): Iterator[T] = {
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => it.close()))
    it
  }

  def perArchive[T: Encoder](spark: SparkSession, paths: Seq[String],
      readErrors: org.apache.spark.util.LongAccumulator,
      streamThresholdBytes: Long)(
      open: (String, Configuration, Exception => Unit, Long)
        => ClosingIterator[T]): Dataset[T] = {
    import spark.implicits._
    val confBc = broadcastConf(spark)
    spark.createDataset(
      spark.sparkContext.parallelize(paths, math.max(1, paths.size)))
      .flatMap(p => closeAtTaskEnd(open(p, confBc.value.value,
        _ => readErrors.add(1L), streamThresholdBytes)))
  }
}
