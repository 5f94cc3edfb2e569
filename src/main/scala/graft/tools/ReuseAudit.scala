package graft.tools


import graft.SparkEntry

/** Fleet-wide screen for the defect class the round-8 local-cluster
  * probe caught in q_dup_ngrams: a subtree consumed by several branches
  * whose exchanges SHOULD be shared (AQE stage reuse / ReuseExchange)
  * but silently are not — each copy re-runs its whole map side and
  * re-shuffles, invisible at local[32] wall-clock and 2×+ under real
  * serialization.
  *
  * Method: finalize every query's adaptive plan, normalize away expr
  * ids / plan ids / codegen ids, fingerprint each non-reused shuffle
  * exchange by its normalized subtree head (the exchange line plus the
  * next few plan lines), and report fingerprints occurring more than
  * once. A hit is a CANDIDATE (same head, different deep children is
  * possible), so hits get eyeballed — but a clean run is strong
  * evidence no duplicated-exchange work exists in the battery.
  *
  * Usage: `runMain graft.tools.ReuseAudit [sfDir] [headLines]`
  */
object ReuseAudit {

  /** Eyeballed hits that are NOT lost reuse — same normalized head +
    * scan set but genuinely different deep children. Each entry must
    * carry the justification; an allowlisted query still prints, it
    * just doesn't count toward `flagged`.
    */
  val Allowed: Map[String, String] = Map(
    "q_lsh_recall" -> ("two LSH configs (8x1 truth vs 4x2 prod) both end " +
      "in distinct(d1,d2) over the same scans; band construction between " +
      "scan and exchange differs, so the exchanges are not equal plans"),
    "q_pagerank" -> ("each power iteration shuffles its contribution sum " +
      "on dst with DIFFERENT rank values upstream (same head + scan " +
      "set, different subtrees); the shared edges/nodes/outdeg frames DO " +
      "reuse (ReusedExchange on the host key)"),
    "q_hits" -> ("same class as q_pagerank: each mutual-reinforcement " +
      "round shuffles its hub-sum on src with DIFFERENT auth values " +
      "upstream; the shared distinct-edge and node-set frames DO reuse " +
      "(ReusedExchange x3 on (src,dst), x5 on host — pinned in " +
      "ShuffleCountSpec minReused)")
  )

  def main(args: Array[String]): Unit = {
    val dir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val headLines = args.lift(1).map(_.toInt).getOrElse(4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.SessionBuilder.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")

    def normalize(s: String): String = s
      .replaceAll("#\\d+", "#")
      .replaceAll("plan_id=\\d+", "plan_id=")
      .replaceAll("\\*\\(\\d+\\)", "*")
      .replaceAll("QueryStage \\d+", "QueryStage")
      .replaceAll("^[\\s:+-]+", "")

    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        df.queryExecution.toRdd.count() // finalize AQE
        val fin = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val lines = fin.linesIterator.toVector
        def indent(l: String): Int = l.indexWhere(c => !" :+-".contains(c))
        // lines inside an InMemoryRelation printout are the CACHED
        // subtree — computed once at cache time, reused thereafter; an
        // exchange printed there is not duplicated work (q_kmeans
        // false-positive class)
        val cached = Array.fill(lines.size)(false)
        var cacheIndent = -1
        lines.zipWithIndex.foreach { case (l, i) =>
          val ind = indent(l)
          if (cacheIndent >= 0 && ind >= 0 && ind <= cacheIndent)
            cacheIndent = -1
          if (cacheIndent >= 0) cached(i) = true
          if (cacheIndent < 0 && l.contains("InMemoryRelation"))
            cacheIndent = ind
        }
        // a copy whose SCANS carry different pushed filters is filter
        // pushdown through the branch — beneficial duplication, not a
        // lost reuse (q_ann_ivf false-positive class): fingerprint the
        // exchange head PLUS the normalized scan set of its subtree
        def subtreeScans(i: Int): String = {
          val d = indent(lines(i))
          val end = lines.indices.indexWhere(
            j => j > i && indent(lines(j)) >= 0 && indent(lines(j)) <= d)
          val stop = if (end < 0) lines.size else end
          lines.slice(i + 1, stop).filter(_.contains("Scan "))
            .map(normalize).sorted.mkString("~")
        }
        val prints = lines.zipWithIndex.collect {
          // a ReusedExchange node can print its referenced exchange
          // INLINE on the same line ("ReusedExchange [...], Exchange
          // hashpartitioning(...)") — that line IS successful reuse,
          // not an exchange occurrence (q_pagerank false-positive
          // class, two reuse pointers at one host exchange)
          case (l, i) if (l.contains("Exchange hashpartitioning") ||
              l.contains("Exchange rangepartitioning")) && !cached(i) &&
              !l.contains("ReusedExchange") =>
            (i, lines.slice(i, i + headLines).map(normalize).mkString("|") +
              "||" + subtreeScans(i))
        }.filterNot { case (i, _) =>
          i > 0 && lines(i - 1).contains("ReusedExchange")
        }
        val dups = prints.groupBy(_._2).filter(_._2.size > 1)
        if (dups.nonEmpty) {
          val reason = Allowed.get(name)
          if (reason.isEmpty) flagged += 1
          val tag = reason.map(r => s" ALLOWED ($r)").getOrElse("")
          println(s"[reuse-audit] $name: ${dups.size} duplicated exchange " +
            s"fingerprint(s)$tag")
          dups.foreach { case (fp, occ) =>
            println(s"  x${occ.size}: ${fp.split('|').head.take(140)}")
          }
        }
      } catch {
        case e: Throwable =>
          println(s"[reuse-audit] $name FAILED to plan: ${e.getMessage}")
      }
    }
    println(s"""{"metric":"reuse_audit","flagged":$flagged,"sf":"$dir"}""")
    spark.stop()
  }
}
