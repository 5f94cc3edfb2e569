package graft.tools

import org.apache.spark.sql.functions._

/** Robots-gate posture at frontier shape: the r16 verdict's one weak
  * component was `gateByDomain` collecting the WHOLE robots table to
  * the driver. The rewrite parses rules on executors and joins; this
  * probe prices the gate across robots-table decades (10k → 1M
  * domains, 10 frontier URLs per domain) under BOTH join shapes —
  * broadcast (the ≤1M-domain default) and the domain-keyed equi-join
  * (the 10⁸-domain path) — and reports driver heap growth across the
  * run: the structural claim ("no driver-side robots state") made
  * measurable.
  *
  * Run: sbt "runMain graft.tools.RobotsScaleProbe 3"   # decades
  */
object RobotsScaleProbe {

  def main(args: Array[String]): Unit = {
    val decades = args.lift(0).map(_.toInt).getOrElse(3)
    val spark = graft.SessionBuilder.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def heapMb(): Long = {
      val rt = Runtime.getRuntime
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) >> 20
    }

    // a realistic per-domain robots body: 3 groups, ~8 rules
    def robotsBody(k: Long): String =
      s"""User-agent: graftbot
         |Disallow: /tmp$k/
         |Allow: /tmp$k/ok/
         |
         |User-agent: otherbot
         |Disallow: /
         |
         |User-agent: *
         |Disallow: /private/
         |Disallow: /*.zip$$
         |Allow: /private/pub/
         |Crawl-delay: ${1 + k % 5}
         |""".stripMargin

    val passes = (0 until decades).map { d =>
      val nDomains = 10000L * math.pow(10, d).toLong
      val robots = spark.range(nDomains).select(col("id"))
        .as[java.lang.Long].repartition(64)
        .mapPartitions(_.map { boxed =>
          val k = boxed.longValue()
          (s"d$k.probe", robotsBody(k))
        }).toDF("domain", "robots")
      val pages = spark.range(nDomains * 10).select(col("id"))
        .as[java.lang.Long].repartition(64)
        .mapPartitions(_.map { boxed =>
          val id = boxed.longValue()
          val k = id / 10
          val path = (id % 4) match {
            case 0 => s"/a/x$id"
            case 1 => s"/tmp$k/x$id"
            case 2 => s"/private/x$id"
            case _ => s"/file$id.zip"
          }
          (id, s"d$k.probe", path)
        }).toDF("doc_id", "domain", "path")

      val shapes = Seq(
        ("broadcast", Long.MaxValue),
        ("equi_join", 0L))
      val runs = shapes.map { case (label, threshold) =>
        val h0 = heapMb()
        val t0 = System.nanoTime()
        val gated = graft.ext.Robots
          .gateByDomain(pages, robots, "graftbot", threshold)
        val blocked = gated.where(!col("allowed")).count()
        val wall = (System.nanoTime() - t0) / 1e9
        val h1 = heapMb()
        // gate semantics hold at every decade: graftbot's OWN group
        // governs (star rules don't apply to it), so exactly family 1
        // (/tmp<k>/...) is blocked — a quarter of the frontier
        require(blocked == nDomains * 10 / 4,
          s"expected ${nDomains * 10 / 4} blocked, got $blocked")
        f"""{"shape":"$label","domains":$nDomains,""" +
          f""""frontier":${nDomains * 10},"wall_sec":$wall%.1f,""" +
          f""""urls_per_sec":${nDomains * 10 / wall}%.0f,""" +
          f""""driver_heap_mb_before":$h0,"driver_heap_mb_after":$h1}"""
      }
      runs.mkString(",")
    }
    println(s"""{"metric":"robots_scale","decades":$decades,""" +
      s""""passes":[${passes.mkString(",")}]}""")
    spark.stop()
  }
}
