package graft.tools

import org.apache.spark.sql.functions._

/** Decompose the streaming battery's fixed cost: what does ONE
  * Structured Streaming start/stop cycle cost with NOTHING in it?
  *
  * Three measurements, each min-of-`reps` (fresh checkpoint + sink per
  * rep — the battery's own contract, since reusing a checkpoint would
  * RESUME instead of re-run):
  *
  *  - noop: 1-row file source → parquet sink, Trigger.AvailableNow,
  *    stateless passthrough. This is the irreducible engine floor per
  *    cycle: query planning, offset log, file-source listing, one
  *    micro-batch, sink metadata commit, shutdown.
  *  - state1: the same plus ONE stateful operator (windowed count,
  *    watermarked) at the battery's stream width — adds one state
  *    store per partition per batch (commit + provider init).
  *  - state1x2: state1 with the nudge batch (an empty second file =
  *    second micro-batch), the shape watermark-finalized queries pay.
  *
  * 7 × noop is the hard floor of the 7-query streaming battery;
  * (state1 − noop) prices each state-store round; the battery's
  * remaining delta over those is genuine operator work. Run:
  *   sbt "runMain graft.tools.StreamFloorProbe 3"
  */
object StreamFloorProbe {

  def main(args: Array[String]): Unit = {
    val reps = args.lift(0).map(_.toInt).getOrElse(3)
    val width = args.lift(1).getOrElse("8") // battery stream width
    val spark = graft.SessionBuilder.local(32)
    spark.conf.set("spark.sql.shuffle.partitions", width)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // under the process scratch root: the battery's scratch-checkpoint
    // confs (scoped per cycle below) are the floor this probe prices
    val root = graft.queries.QueryUtil.scratchPath("stream_floor")

    // staged once: 1-row data file (+ empty nudge file staged up front,
    // modtime-bumped, for the x2 case — mirrors StreamQueries)
    val in1 = s"$root/in1"
    Seq((1L, 10L)).toDF("k", "ts_ms").coalesce(1)
      .write.mode("overwrite").parquet(s"$in1/b1")
    val in2 = s"$root/in2"
    Seq((1L, 10L)).toDF("k", "ts_ms").coalesce(1)
      .write.mode("overwrite").parquet(s"$in2/b1")
    Seq.empty[(Long, Long)].toDF("k", "ts_ms").coalesce(1)
      .write.parquet(s"$in2/b2")
    val future = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() + 60000L)
    Option(new java.io.File(s"$in2/b2").listFiles()).foreach(_.foreach(f =>
      java.nio.file.Files.setLastModifiedTime(f.toPath, future)))

    var n = 0
    def cycle(inDir: String,
        xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : Double = {
      n += 1
      val ckpt = s"$root/ckpt$n"
      graft.queries.QueryUtil.withScratchCheckpoints(spark, ckpt) {
        val t0 = System.nanoTime()
        val stream = spark.readStream.schema("k long, ts_ms long")
          .option("maxFilesPerTrigger", 1).parquet(s"$inDir/*")
        xform(stream).writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("parquet").option("path", s"$root/out$n")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
        (System.nanoTime() - t0) / 1e9
      }
    }

    def stateful(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("k"), col("n"))

    def minOf(reps: Int)(f: => Double): Double =
      (1 to reps).map(_ => f).min

    val warm = cycle(in1, identity) // JVM/codegen warmup, not reported
    val noop = minOf(reps)(cycle(in1, identity))
    val state1 = minOf(reps)(cycle(in1, stateful))
    val state1x2 = minOf(reps)(cycle(in2, stateful))
    println(f"""{"metric":"stream_floor","reps":$reps,"width":$width,""" +
      f""""warmup_sec":$warm%.2f,"noop_sec":$noop%.2f,""" +
      f""""state1_sec":$state1%.2f,"state1_nudged_sec":$state1x2%.2f,""" +
      f""""floor7_sec":${7 * noop}%.2f}""")
    spark.stop()
  }
}
