package graft.tools


import graft.wat.{WarcExtract, WatExtract, WatFixture}

/** Prices the raw-WARC HTML extraction path against the WAT path on
  * the SAME pages at fleet shape — the SCALING.md evidence that the
  * beyond-reference source scales like the reference one.
  *
  * Both fleets carry identical seeded link streams (the q_warc_extract
  * parity construction); the WAT files wrap them in the JSON envelope,
  * the WARC files in real HTML inside HTTP response bodies. The probe
  * measures extraction wall (count sink, min of 2 passes) at ×1 and
  * ×10 records per archive, both transports, each through its source.
  *
  * Run: sbt "runMain graft.tools.WarcScaleProbe [factor...]"
  */
object WarcScaleProbe {

  private def time2(f: => Long): (Double, Long) = {
    var best = Double.MaxValue
    var rows = 0L
    for (_ <- 1 to 2) {
      val t0 = System.nanoTime()
      rows = f
      best = math.min(best, (System.nanoTime() - t0) / 1e9)
    }
    (best, rows)
  }

  def main(args: Array[String]): Unit = {
    val factors: Seq[Int] = if (args.nonEmpty) args.map(_.toInt).toSeq
      else Seq(1, 10)
    val spark = graft.SessionBuilder.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      appName = "warc-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    // session warm-up: one tiny extraction per source so the first timed
    // pass doesn't absorb codegen/classload cost
    locally {
      val w = WatFixture.ensureBenchWats(1, 50, 5)
      val c = WatFixture.ensureBenchWarcs(1, 50, 5)
      WatExtract.fromPaths(spark, w, "image_only").toDF().count()
      WarcExtract.fromPaths(spark, c, "image_only").toDF().count()
    }

    for (f <- factors) {
      val nRec = 500 * f
      val wats = WatFixture.ensureBenchWats(16, nRec, 20)
      val warcs = WatFixture.ensureBenchWarcs(16, nRec, 20)
      val nPages = 16L * nRec
      val (wt, wr) = time2(
        WatExtract.fromPaths(spark, wats, "image_only").toDF().count())
      val (ct, cr) = time2(
        WarcExtract.fromPaths(spark, warcs, "image_only").toDF().count())
      require(wr == cr, s"parity broken: wat=$wr warc=$cr")
      println(f"x$f%-3d ($nPages%7d pages, $wr%7d image links)  " +
        f"wat=$wt%6.2fs (${nPages / wt}%8.0f pages/s)  " +
        f"warc=$ct%6.2fs (${nPages / ct}%8.0f pages/s)")
    }
    spark.stop()
  }
}
