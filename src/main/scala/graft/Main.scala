package graft

import org.apache.spark.sql.SparkSession

import graft.pipeline.{Cc2Config, Cc2Dataset}

/** CLI entry (C5, cc2dataset/main.py:390-391) — the `cc2dataset(...)`
  * keyword surface as `--key value` flags.
  *
  * WAT inputs come from either:
  *   --wat_paths p1,p2,...            explicit archive paths, or
  *   --wat_index i1,i2,... [--wat_index_count N] [--wat_count M]
  *                                    gzip'd index files (tail-sliced,
  *                                    sampled with replacement)
  *
  * Example:
  *   runMain graft.Main --output_path /tmp/out --document_type image \
  *     --wat_paths /data/a.warc.wat.gz,/data/b.warc.wat.gz --multipart 2
  */
object Main {

  /** Every flag the CLI reads. Any other `--key` fails before a session
    * is built, as the reference's `fire.Fire` rejects an unknown keyword
    * argument: a misspelt flag must not run with its default.
    */
  val Flags: Seq[String] = Seq("output_path", "document_type", "wat_paths",
    "wat_index", "wat_index_count", "wat_count", "multipart", "shuffle",
    "resume", "seed", "source_cc_protocol", "master", "num_cores", "mem_gb")

  private[graft] def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0,
      s"flags must come in --key value pairs, got: ${args.mkString(" ")}")
    args.sliding(2, 2).map {
      case Array(k, v) =>
        require(k.startsWith("--"), s"expected a --flag, got: $k")
        require(!v.startsWith("--"),
          s"flag $k is missing its value (next token is $v)")
        val key = k.stripPrefix("--")
        require(Flags.contains(key),
          s"unknown flag $k; accepted: ${Flags.map("--" + _).mkString(", ")}")
        key -> v
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args)
    require(a.contains("output_path"), "--output_path is required")

    val cores = a.get("num_cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val memGb = a.get("mem_gb").map(_.toInt).getOrElse(8)
    // bare `local` (the default) runs on --num_cores; local[N] and
    // local-cluster[n,c,m] run as their string says; any other master
    // gets the cluster conf with --num_cores/--mem_gb per executor
    val master = a.getOrElse("master", "local")
    val factory: () => SparkSession =
      () => SessionBuilder.forMaster(master, cores, memGb)

    val cfg = config(a)

    val spark = factory()
    // stop whichever session the run ends on (parts restart it): a
    // context left running at JVM exit races the shutdown hooks, and a
    // local-cluster master then relaunches an executor into a dying JVM
    try {
      val wats: Seq[String] = (a.get("wat_paths"), a.get("wat_index")) match {
        case (Some(paths), _) => paths.split(',').toSeq
        case (None, Some(idx)) =>
          Cc2Dataset.readWatIndexFiles(spark, idx.split(',').toSeq,
            cfg.watIndexCount, cfg.watCount, cfg.seed)
        case (None, None) if cfg.resume.isDefined => Nil // manifest supplies them
        case (None, None) =>
          // reference default: discover crawl indexes via the configured
          // protocol (s3 bucket glob, or the credential-free http listing
          // page), then tail-slice + sample (main.py:236-250)
          val idx = Cc2Dataset.getCcWatLinks(spark, cfg.sourceCcProtocol)
          Cc2Dataset.readWatIndexFiles(spark, idx,
            cfg.watIndexCount, cfg.watCount, cfg.seed)
      }

      val (jobPath, n) = Cc2Dataset.run(cfg, wats, factory)
      println(s"""{"output":"$jobPath","rows":$n}""")
    } finally SparkSession.getActiveSession.getOrElse(spark).stop()
  }

  /** The run's config from its parsed flags. A bad count fails here,
    * before any session is built, and its error names the flag.
    */
  private[graft] def config(a: Map[String, String]): Cc2Config = {
    // --multipart, --wat_count and --wat_index_count take a positive
    // count: 0 would group the paths by zero, or run a "multipart" job
    // of one part (ceil(n / 0.0) is Int.MaxValue)
    def count(key: String, v: String): Int = {
      val n = v.toIntOption.getOrElse(throw new IllegalArgumentException(
        s"--$key takes a positive count, got: $v"))
      require(n > 0, s"--$key takes a positive count, got: $v")
      n
    }
    // absent count flags keep Cc2Config's reference-parity defaults
    // (newest 1 index, 100 sampled WATs — README.md:54); the explicit
    // sentinel "all" disables the cap. Mapping absent to None here would
    // silently read every index file and shuffle millions of WAT paths.
    val dflt = Cc2Config(outputPath = a("output_path"))
    def countFlag(key: String, d: Option[Int]): Option[Int] =
      a.get(key) match {
        case None        => d
        case Some("all") => None
        case Some(v)     => Some(count(key, v))
      }
    dflt.copy(
      documentType = a.getOrElse("document_type", "image"),
      watIndexCount = countFlag("wat_index_count", dflt.watIndexCount),
      watCount = countFlag("wat_count", dflt.watCount),
      multipart = a.get("multipart").map(count("multipart", _)),
      sourceCcProtocol = a.getOrElse("source_cc_protocol", dflt.sourceCcProtocol),
      shuffle = a.get("shuffle").forall(_.toBoolean),
      resume = a.get("resume"),
      seed = a.get("seed").map(_.toLong).getOrElse(42L))
  }
}
