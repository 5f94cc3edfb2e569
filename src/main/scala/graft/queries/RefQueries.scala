package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, LinkOps, Shuffle, UrlOps}
import QueryUtil._

/** Reference-parity operator battery: every dataflow operator of
  * cc2dataset (SURVEY.md §2) expressed as an oracle-checkable query over
  * the driver fixtures. Link-shaped inputs (url/alt/path) are derived
  * deterministically from `documents` columns so the same derivation is
  * expressible in the DuckDB oracle SQL.
  */
object RefQueries {

  type QueryFn = (SparkSession, String) => DataFrame

  // Deterministic synthetic link columns over `documents`:
  //   media url ext cycles with doc_id % 5, doc url ext with doc_id % 4,
  //   relative url shape with doc_id % 5.
  private def withMediaUrl(df: DataFrame): DataFrame =
    df.withColumn("url",
      concat(lit("http://media.test/"), col("doc_id").cast("string"),
        when(col("doc_id") % 5 === 0, ".mp3")
          .when(col("doc_id") % 5 === 1, ".wav")
          .when(col("doc_id") % 5 === 2, ".mp4")
          .when(col("doc_id") % 5 === 3, ".html")
          .otherwise(".flac")))

  private val mediaUrlSql =
    """'http://media.test/' || doc_id ||
      | CASE doc_id % 5 WHEN 0 THEN '.mp3' WHEN 1 THEN '.wav'
      |   WHEN 2 THEN '.mp4' WHEN 3 THEN '.html' ELSE '.flac' END""".stripMargin

  val queries: Map[String, QueryFn] = Map(
    // X4 — uid = md5(alt + url) (main.py:174)
    "q_uid_hash" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          LinkOps.uid(col("lang"), col("text")).as("uid"))
        .orderBy("doc_id")
    }),

    // A1 — dropDuplicates on a key (main.py:256); single-column projection
    // makes the arbitrary-survivor semantics deterministic.
    "q_dedup_bykey" -> ((s, dir) => {
      Dedup.byKey(table(s, dir, "documents").select("lang"), Seq("lang"))
        .orderBy("lang")
    }),

    // A1 skew-resistant variant — two-phase salted dedup; single-column
    // projection keeps the arbitrary-survivor result deterministic, so
    // the oracle is the same DISTINCT.
    "q_dedup_salted" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.saltedByKey(d.select(col("lang"), col("doc_id")), Seq("lang"),
        saltBuckets = 8, saltFrom = col("doc_id"))
        .select("lang")
        .orderBy("lang")
    }),

    // A1 deterministic variant — first row per key by explicit
    // tie-break, via the hot-key-safe min_by aggregation: a language
    // key partitions the corpus into a handful of corpus-scale groups,
    // exactly the shape a row_number window single-tasks (the window
    // variant keeps parity coverage in DedupSpec).
    "q_dedup_first" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Dedup.firstPerKeyAgg(d, Seq(col("lang")), Seq(col("doc_id")))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // A2 — count audit (main.py:264-266)
    "q_count" -> ((s, dir) =>
      table(s, dir, "lineitem").agg(count(lit(1)).as("n"))),

    // U1 + A1 — union of parts then global dedup (main.py:321-329)
    "q_union_dedup" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "lang")
      val evens = d.where(col("doc_id") % 2 === 0)
      Dedup.distinctRows(evens.union(d)).orderBy("doc_id")
    }),

    // F1/F2 — image predicates over synthesized (path, alt) link columns:
    // `image` needs IMG@/src AND non-empty alt; `image_only` only the tag.
    "q_filter_image" -> ((s, dir) => {
      val linked = table(s, dir, "documents").select(
        col("doc_id"),
        when(col("doc_id") % 3 === 0, "IMG@/src").otherwise("A@/href").as("path"),
        when(col("doc_id") % 2 === 0,
          concat(lit("cap "), col("doc_id").cast("string")))
          .otherwise("").as("alt"))
      linked.select(col("doc_id"), col("path"), col("alt"),
        LinkOps.validImageLink(col("path"), col("alt")).as("is_image"),
        LinkOps.validImageOnlyLink(col("path")).as("is_image_only"))
        .where(col("is_image_only"))
        .orderBy("doc_id")
    }),

    // X4 + A1 — the §7.2 minimal slice: dedup documents on the md5 uid
    // with a deterministic tie-break, then count per lang.
    "q_dedup_uid" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("uid", LinkOps.uid(col("lang"), col("text")))
      Dedup.firstPerKey(d, Seq(col("uid")), Seq(col("doc_id")))
        .groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .orderBy("lang")
    }),

    // F3/F4 — audio/video suffix predicates (main.py:23-27,70-72)
    "q_filter_media" -> ((s, dir) => {
      val linked = withMediaUrl(table(s, dir, "documents"))
      linked
        .where(LinkOps.validAudioLink(col("url")) ||
               LinkOps.validVideoLink(col("url")))
        .select(col("doc_id"), col("url"),
          when(LinkOps.validAudioLink(col("url")), "audio")
            .otherwise("video").as("kind"))
        .orderBy("doc_id")
    }),

    // F5 — split-on-dot text-extension predicate (main.py:56-62);
    // doc_id%4==3 yields `.pdf?x=1` which endswith would accept but
    // split-semantics reject.
    "q_filter_text_ext" -> ((s, dir) => {
      val linked = table(s, dir, "documents").withColumn("url",
        concat(lit("http://docs.test/f"), col("doc_id").cast("string"),
          when(col("doc_id") % 4 === 0, ".pdf")
            .when(col("doc_id") % 4 === 1, ".txt")
            .when(col("doc_id") % 4 === 2, ".html")
            .otherwise(".pdf?x=1")))
      linked.where(LinkOps.validTextLink(col("url")))
        .select("doc_id", "url")
        .orderBy("doc_id")
    }),

    // X1-X3 + F6 — urljoin absolutization then scheme filter
    // (main.py:104-114,167-172). Case 4 (ftp) survives resolution
    // unchanged and is dropped by the scheme filter.
    "q_absolutize" -> ((s, dir) => {
      val base = lit("https://ex.test/a/b/")
      val rel = table(s, dir, "documents").withColumn("rel",
        when(col("doc_id") % 5 === 0,
          concat(lit("img/"), col("doc_id").cast("string"), lit(".jpg")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("/abs/"), col("doc_id").cast("string"), lit(".png")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("http://other.test/"), col("doc_id").cast("string"), lit(".gif")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("//proto.test/"), col("doc_id").cast("string"), lit(".jpg")))
        .otherwise(
          concat(lit("ftp://bad.test/"), col("doc_id").cast("string"), lit(".bin"))))
      rel.withColumn("abs_url", UrlOps.makeLinkAbsolute(base, col("rel")))
        .where(LinkOps.hasHttpScheme(col("abs_url")))
        .select("doc_id", "abs_url")
        .orderBy("doc_id")
    }),

    // O2 + A2 — repartition to the output-file-count formula, then count
    // (main.py:260). The repartition stays in the physical plan (user-
    // specified shuffles are not elided).
    "q_repartition_count" -> ((s, dir) => {
      Shuffle.repartitionForOutput(events(s, dir), watCount = 4000)
        .agg(count(lit(1)).as("n"))
    }),

    // O1 — seeded random global shuffle (main.py:258-259), registered in
    // its PRODUCTION shape: the reference shuffles immediately before
    // its parquet write (randomizing the output files IS the operator's
    // purpose), so the query executes random-sort → parquet write →
    // read-back → deterministic re-sort. The write is a real sink, so
    // the optimizer cannot elide the random sort under the outer order,
    // and the DuckDB oracle hash-proves CONTENT preservation through
    // the whole shuffle tail (range-sample + range-sort exchanges, the
    // file round-trip, and the final sort). The PERMUTATION semantics —
    // seeded determinism, actually-permuted order — are order-valued
    // and not SQL-oracle-able; ShuffleSpec pins them.
    "q_shuffle" -> ((s, dir) => {
      val out = QueryUtil.scratchPath(
        "shuffle/" + dir.replaceAll("[^a-zA-Z0-9]", "_"))
      Shuffle.randomShuffle(
        events(s, dir).select("event_id", "user_id", "event_type"),
        seed = 42L)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out).orderBy("event_id")
    }),

    // S1/S2/G1 end-to-end — WAT extraction throughput over deterministic
    // synthetic archives (16 files → 16 tasks). The WARC framing itself
    // is not SQL-expressible, but the extraction output IS oracle-able
    // against the committed dump of the same seeded fleet
    // (tools/wat_tail.parquet — value-identical on regeneration): the
    // DuckDB hash match proves the live extraction reproduces the
    // golden-md5-pinned table byte-for-byte. Bench times it as the
    // extraction headline (the added 64k-row sort is noise next to the
    // gunzip+JSON cost).
    "q_wat_extract" -> ((s, dir) => {
      graft.wat.WatFixture.ensureTailParquet(s)
      val wats = graft.wat.WatFixture.ensureFleet()
      graft.wat.WatExtract.fromPaths(s, wats, "image_only").toDF()
        // deterministic total order for the oracle hash WITHOUT a
        // global orderBy: range-sort SAMPLES its input, which would
        // execute the whole extraction twice (measured 2x on the
        // single-archive headline). One round-robin exchange into a
        // single partition + an in-partition sort is one extraction
        // pass; the sort itself is milliseconds at this row count and
        // the order is battery plumbing, not the operator.
        .repartition(1)
        .sortWithinPartitions("uid", "cc_filename", "page_url", "url", "alt")
    }),

    // Raw-WARC HTML link extraction (beyond-reference source: the
    // reference only reads WAT's pre-extracted Links,
    // cc2dataset/main.py:144-155). The WARC fleet re-emits the SAME
    // seeded pages as the WAT fleet, as real HTML inside HTTP response
    // bodies (plus script/style/comment traps the scanner must skip) —
    // so extraction here must hash-match the committed WAT extraction
    // dump on (uid, url, alt, page_url). cc_filename is per-source
    // (archive name vs Container.Filename) and projected out.
    "q_warc_extract" -> ((s, dir) => {
      graft.wat.WatFixture.ensureTailParquet(s)
      val warcs = graft.wat.WatFixture.ensureWarcFleet()
      graft.wat.WarcExtract.fromPaths(s, warcs, "image_only").toDF()
        .select("uid", "url", "alt", "page_url")
        .repartition(1)
        .sortWithinPartitions("uid", "page_url", "url", "alt")
    }),

    // WAT SIDECAR GENERATION (graft.wat.WatSink — the fourth output
    // form): raw WARC pages → engine-written .warc.wat.gz metadata
    // sidecars (scanHtml inside the write task, envelope JSON in the
    // exact field shape WatExtract and the reference navigate) → WAT
    // extraction over the WRITTEN sidecars. Same parity oracle as
    // q_warc_extract: the result must hash-match the committed
    // extraction of the crawler's own WAT for the same seeded pages —
    // WAT-write → WAT-read ≡ WARC-read ≡ WAT-read, the circle that
    // lets WAT-only consumers (the reference pipeline included) run
    // over a crawl that never had sidecars. cc_filename is per-source
    // and projected out, as in q_warc_extract.
    "q_wat_sidecar" -> ((s, dir) => {
      import s.implicits._
      graft.wat.WatFixture.ensureTailParquet(s)
      val warcs = graft.wat.WatFixture.ensureWarcFleet()
      val pages = s.read.format("warc").load(warcs: _*)
        .select(
          regexp_extract(col("warc_path"), "[^/]+$", 0)
            .as("cc_filename"),
          col("page_url"), col("html"))
      val outDir = new java.io.File(QueryUtil.scratchPath("wat_sidecar"))
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
      }
      rmr(outDir)
      outDir.mkdirs()
      // no repartition: one sidecar shard per source archive, scanned
      // and written in the same task — page bodies never shuffle
      val manifest = graft.wat.WatSink.writePages(
        pages, outDir.getAbsolutePath)
      val written = manifest.select("path").as[String].collect().sorted
      graft.wat.WatExtract.fromPaths(s, written.toSeq, "image_only")
        .toDF()
        .select("uid", "url", "alt", "page_url")
        .repartition(1)
        .sortWithinPartitions("uid", "page_url", "url", "alt")
    }),

    // The same extraction with the `warc` source's max_tasks batching:
    // 16 archives batched into 8 tasks here so the batched plan is the
    // one under oracle. Same WAT-parity oracle as q_warc_extract.
    "q_warc_extract_dsv2" -> ((s, dir) => {
      graft.wat.WatFixture.ensureTailParquet(s)
      val warcs = graft.wat.WatFixture.ensureWarcFleet()
      graft.wat.WarcExtract.fromPaths(s, warcs, "image_only", maxTasks = 8)
        .toDF()
        .select("uid", "url", "alt", "page_url")
        .repartition(1)
        .sortWithinPartitions("uid", "page_url", "url", "alt")
    }),

    // The pipeline's hot path end-to-end — extraction + uid dedup (the
    // stage-1 + stage-2 of a production run) — now under the FULL
    // DuckDB oracle: the survivor pick is deterministic (hot-key-safe
    // min_by over a total tie-break, same as the production-shaped
    // q_wat_tail), so LIVE extraction over the 16-archive fleet + dedup
    // must hash-equal DuckDB running the identical dedup over the
    // committed extraction parquet. Only the WARC framing itself
    // (pinned by golden md5s ×5 doc types) stays outside SQL.
    "q_wat_dedup" -> ((s, dir) => {
      // the oracle side reads the committed tail parquet — materialize
      // it first so both engines see the same table
      graft.wat.WatFixture.ensureTailParquet(s)
      val wats = graft.wat.WatFixture.ensureFleet()
      Dedup.firstPerKeyAgg(
        graft.wat.WatExtract.fromPaths(s, wats, "image_only").toDF(),
        Seq(col("uid")),
        Seq(col("cc_filename"), col("page_url"), col("url"), col("alt")))
        .orderBy("uid")
    }),

    // Single-archive throughput at reference-WAT link volume (~400k
    // links in one file → one task) through the `wat` source.
    // BASELINE.md pins the reference at ~50 s per WAT per core; this is
    // the comparable single-node number. Oracled against the
    // committed dump of the same seeded archive (tools/
    // wat_single.parquet, the wat_tail pattern).
    "q_wat_extract_1file" -> ((s, dir) => {
      graft.wat.WatFixture.ensureSingleParquet(s)
      val wat = graft.wat.WatFixture.ensureSingle()
      graft.wat.WatExtract.fromPaths(s, wat, "image_only").toDF()
        // deterministic total order for the oracle hash WITHOUT a
        // global orderBy: range-sort SAMPLES its input, which would
        // execute the whole extraction twice (measured 2x on the
        // single-archive headline). One round-robin exchange into a
        // single partition + an in-partition sort is one extraction
        // pass; the sort itself is milliseconds at this row count and
        // the order is battery plumbing, not the operator.
        .repartition(1)
        .sortWithinPartitions("uid", "cc_filename", "page_url", "url", "alt")
    }),

    // Fleet-scale extraction through the `wat` source's `max_tasks` batching:
    // 64 archives capped at 16 tasks (4 archives per partition) — the
    // shape a production listing takes when archive count >> sane task
    // count. Oracled against the committed dump (tools/
    // wat_fleet64.parquet); the golden fleet-64 md5 in WatExtractSpec
    // still pins the framing semantics. Benched for the per-archive amortized time.
    "q_wat_extract_fleet64" -> ((s, dir) => {
      graft.wat.WatFixture.ensureFleet64Parquet(s)
      val wats = graft.wat.WatFixture.ensureFleet64()
      graft.wat.WatExtract.fromPaths(s, wats, "image_only",
        maxTasks = 16).toDF()
        // deterministic total order for the oracle hash WITHOUT a
        // global orderBy: range-sort SAMPLES its input, which would
        // execute the whole extraction twice (measured 2x on the
        // single-archive headline). One round-robin exchange into a
        // single partition + an in-partition sort is one extraction
        // pass; the sort itself is milliseconds at this row count and
        // the order is battery plumbing, not the operator.
        .repartition(1)
        .sortWithinPartitions("uid", "cc_filename", "page_url", "url", "alt")
    }),

    // The WAT pipeline's relational TAIL under the full DuckDB oracle:
    // extraction itself is WARC-framed (rows-only + golden md5s), but
    // its output dumped once to parquet (WatFixture.ensureTailParquet —
    // deterministic, committed) makes the stage-2 dedup+sort SQL-
    // expressible on both engines. Survivor pick is the hot-key-safe
    // min_by aggregation (Dedup.firstPerKeyAgg) with a total tie-break.
    "q_wat_tail" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      Dedup.firstPerKeyAgg(s.read.parquet(path), Seq(col("uid")),
        Seq(col("cc_filename"), col("page_url"), col("url"), col("alt")))
        .orderBy("uid")
    }),

    // The caption-set view — what a cc2dataset consumer actually builds
    // downstream: per target URL, how many pages link it, with how many
    // distinct captions (multi-caption images are the curation signal).
    // One combinable agg (count-distincts are the standard two-phase
    // expand); top-100 via TakeOrdered.
    "q_anchor_agg" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      s.read.parquet(path)
        .where(col("url").isNotNull && col("alt").isNotNull &&
          col("alt") =!= "")
        .groupBy("url")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("page_url")).as("n_pages"),
          countDistinct(col("alt")).as("n_alts"),
          min(col("alt")).as("first_alt"))
        .orderBy(col("n_links").desc, col("url"))
        .limit(100)
    }),

    // Host-level link graph over the extracted corpus — the crawl
    // analytics staple (which hosts embed whose assets): edges =
    // (host(page_url) → host(url)), per-edge link count + distinct
    // source pages, top-100 edges. Scale shape: per-row host extraction
    // feeds ONE combinable groupBy (count-distinct is Spark's standard
    // two-phase expand); top-100 is TakeOrdered (per-partition heap +
    // driver merge), never a global sort.
    "q_domain_graph" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      val host = (u: org.apache.spark.sql.Column) =>
        lower(graft.ext.UrlAnalysis.host(u))
      s.read.parquet(path)
        .select(host(col("page_url")).as("src"), host(col("url")).as("dst"),
          col("page_url"))
        .where(col("src") =!= "" && col("dst") =!= "" &&
          col("src") =!= col("dst"))
        .groupBy("src", "dst")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("page_url")).as("n_pages"))
        .orderBy(col("n_links").desc, col("src"), col("dst"))
        .limit(100)
    }),

    // Per-host degree table (the CDN / tracker / hub detector): out-
    // degree from pages on the host, in-degree from links TO the host,
    // full-outer joined so pure asset hosts (in only) and pure page
    // hosts (out only) both appear. Two combinable aggs + one join on
    // the host key; top-100 by total links via TakeOrdered.
    "q_host_degree" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      val host = (u: org.apache.spark.sql.Column) =>
        lower(graft.ext.UrlAnalysis.host(u))
      val t = s.read.parquet(path)
        .select(host(col("page_url")).as("src"), host(col("url")).as("dst"))
        .where(col("src") =!= "" && col("dst") =!= "")
      val out = t.groupBy(col("src").as("host"))
        .agg(count(lit(1)).as("out_links"),
          countDistinct(col("dst")).as("out_hosts"))
      val in = t.groupBy(col("dst").as("host"))
        .agg(count(lit(1)).as("in_links"),
          countDistinct(col("src")).as("in_hosts"))
      out.join(in, Seq("host"), "full_outer")
        .na.fill(0L,
          Seq("out_links", "out_hosts", "in_links", "in_hosts"))
        .orderBy((col("in_links") + col("out_links")).desc, col("host"))
        .limit(100)
    }),

    // Schema-evolution scan — the long-lived-dataset reality: era-1
    // shards wrote (uid, url), era-2 added alt + page_url. One
    // mergeSchema multi-path read unions both vintages (missing
    // columns null-filled at scan time, no rewrite of old shards);
    // per-era damage is visible as the non-null counts. The capability
    // a 100 TB corpus accumulated over years of pipeline versions
    // depends on.
    "q_schema_union" -> ((s, dir) => {
      val root = graft.wat.WatFixture.ensureEvoShards(s)
      s.read.option("mergeSchema", "true")
        .parquet(s"$root/era1", s"$root/era2")
        .groupBy(substring(col("uid"), 1, 1).as("uid_prefix"))
        .agg(count(lit(1)).as("n_rows"),
          count(col("alt")).as("n_with_alt"),
          count(col("page_url")).as("n_with_page"))
        .orderBy("uid_prefix")
    }),

    // Host centrality: 3 power iterations of integer-exact PageRank
    // over the distinct host edge list — the link-graph importance
    // signal crawl prioritization and seed selection read. Every rank
    // is a micro-scaled integer, bit-identical to the oracle's
    // unrolled-CTE mirror.
    "q_pagerank" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      val edges = graft.ext.LinkGraph.hostEdges(
        s.read.parquet(path), col("page_url"), col("url"))
      graft.ext.LinkGraph.pagerankMicro(edges, iters = 3)
        .orderBy("host")
    }),

    // Per-archive observability rollup — the ops table a fleet operator
    // reads after every crawl batch: rows, distinct pages, distinct
    // target urls, caption coverage, per archive file.
    "q_archive_stats" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      s.read.parquet(path)
        .groupBy("cc_filename")
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("page_url")).as("n_pages"),
          countDistinct(col("url")).as("n_urls"),
          sum(when(col("alt") =!= "", 1L).otherwise(0L)).as("n_captioned"))
        .orderBy("cc_filename")
    }),

    // HITS hubs & authorities over the same edge list (Kleinberg '99):
    // 2 unnormalized mutual-reinforcement rounds, exact integers.
    "q_hits" -> ((s, dir) => {
      val path = graft.wat.WatFixture.ensureTailParquet(s)
      val edges = graft.ext.LinkGraph.hostEdges(
        s.read.parquet(path), col("page_url"), col("url"))
      graft.ext.LinkGraph.hitsScores(edges, iters = 2)
        .orderBy("host")
    })
  )

  // Mirrors q_pagerank: same edge list, same micro-integer recurrence,
  // 3 unrolled iterations (generated, not hand-copied).
  private def pagerankOracle: String = {
    val re = graft.ext.UrlAnalysis.HostRegex
    val path = graft.wat.WatFixture.TailParquetPath
    val iters = (0 until 3).map { k =>
      s"""c$k AS (
         |  SELECT e.dst, (r$k.r // od.od) AS c
         |  FROM e JOIN r$k ON e.src = r$k.host JOIN od ON e.src = od.src),
         |s$k AS (SELECT dst, sum(c)::BIGINT AS s FROM c$k GROUP BY 1),
         |r${k + 1} AS (
         |  SELECT n.host,
         |    (150000 + (850 * coalesce(s$k.s, 0)) // 1000)::BIGINT AS r
         |  FROM n LEFT JOIN s$k ON n.host = s$k.dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT lower(regexp_extract(page_url, '$re', 1)) AS src,
       |         lower(regexp_extract(url, '$re', 1)) AS dst
       |  FROM read_parquet('$path')),
       |e AS (SELECT DISTINCT src, dst FROM e0
       |      WHERE src <> '' AND dst <> '' AND src <> dst),
       |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
       |od AS (SELECT src, count(*)::BIGINT AS od FROM e GROUP BY 1),
       |r0 AS (SELECT host, 1000000::BIGINT AS r FROM n),
       |$iters
       |SELECT host, r AS rank_micro FROM r3 ORDER BY host""".stripMargin
  }

  // Mirrors q_hits: same edge list, 2 unrolled unnormalized rounds.
  private def hitsOracle: String = {
    val re = graft.ext.UrlAnalysis.HostRegex
    val path = graft.wat.WatFixture.TailParquetPath
    val iters = (0 until 2).map { k =>
      s"""a${k + 1} AS (
         |  SELECT n.host, coalesce(x.s, 0)::BIGINT AS a
         |  FROM n LEFT JOIN (
         |    SELECT e.dst, sum(h$k.h)::BIGINT AS s
         |    FROM e JOIN h$k ON e.src = h$k.host GROUP BY 1) x
         |    ON n.host = x.dst),
         |h${k + 1} AS (
         |  SELECT n.host, coalesce(y.s, 0)::BIGINT AS h
         |  FROM n LEFT JOIN (
         |    SELECT e.src, sum(a${k + 1}.a)::BIGINT AS s
         |    FROM e JOIN a${k + 1} ON e.dst = a${k + 1}.host GROUP BY 1) y
         |    ON n.host = y.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS (
       |  SELECT lower(regexp_extract(page_url, '$re', 1)) AS src,
       |         lower(regexp_extract(url, '$re', 1)) AS dst
       |  FROM read_parquet('$path')),
       |e AS (SELECT DISTINCT src, dst FROM e0
       |      WHERE src <> '' AND dst <> '' AND src <> dst),
       |n AS (SELECT src AS host FROM e UNION SELECT dst FROM e),
       |h0 AS (SELECT host, 1::BIGINT AS h FROM n),
       |$iters
       |SELECT n.host, a2.a AS authority, h2.h AS hub
       |FROM n JOIN a2 ON n.host = a2.host JOIN h2 ON n.host = h2.host
       |ORDER BY n.host""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_pagerank" -> pagerankOracle,
    "q_hits" -> hitsOracle,

    // Mirrors q_schema_union: union_by_name ≙ mergeSchema (missing
    // era-1 columns null-filled), same per-prefix non-null counts.
    "q_schema_union" ->
      s"""WITH u AS (
         |  SELECT uid, alt, page_url FROM read_parquet(
         |    ['${graft.wat.WatFixture.EvoShardsPath}/era1/*.parquet',
         |     '${graft.wat.WatFixture.EvoShardsPath}/era2/*.parquet'],
         |    union_by_name=true))
         |SELECT substring(uid, 1, 1) AS uid_prefix,
         |  count(*)::BIGINT AS n_rows,
         |  count(alt)::BIGINT AS n_with_alt,
         |  count(page_url)::BIGINT AS n_with_page
         |FROM u GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_uid_hash" ->
      "SELECT doc_id, md5(lang || text) AS uid FROM documents ORDER BY doc_id",

    "q_dedup_bykey" ->
      "SELECT DISTINCT lang FROM documents ORDER BY lang",

    "q_dedup_salted" ->
      "SELECT DISTINCT lang FROM documents ORDER BY lang",

    "q_dedup_first" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "q_count" -> "SELECT count(*) AS n FROM lineitem",

    "q_union_dedup" ->
      """SELECT DISTINCT doc_id, lang FROM (
        |  SELECT doc_id, lang FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL SELECT doc_id, lang FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_filter_image" ->
      """WITH linked AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'IMG@/src' ELSE 'A@/href' END AS path,
        |    CASE WHEN doc_id % 2 = 0 THEN 'cap ' || doc_id ELSE '' END AS alt
        |  FROM documents)
        |SELECT doc_id, path, alt,
        |  (path = 'IMG@/src' AND length(alt) > 0) AS is_image,
        |  (path = 'IMG@/src') AS is_image_only
        |FROM linked WHERE path = 'IMG@/src' ORDER BY doc_id""".stripMargin,

    "q_dedup_uid" ->
      """SELECT lang, count(*) AS n_docs FROM (
        |  SELECT lang, row_number() OVER (
        |    PARTITION BY md5(lang || text) ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_filter_media" ->
      s"""WITH linked AS (SELECT doc_id, $mediaUrlSql AS url FROM documents)
         |SELECT doc_id, url,
         |  CASE WHEN doc_id % 5 IN (0,1) OR doc_id % 5 = 4
         |       THEN 'audio' ELSE 'video' END AS kind
         |FROM linked WHERE doc_id % 5 <> 3 ORDER BY doc_id""".stripMargin,

    "q_filter_text_ext" ->
      """WITH linked AS (
        |  SELECT doc_id, 'http://docs.test/f' || doc_id ||
        |    CASE doc_id % 4 WHEN 0 THEN '.pdf' WHEN 1 THEN '.txt'
        |      WHEN 2 THEN '.html' ELSE '.pdf?x=1' END AS url
        |  FROM documents)
        |SELECT doc_id, url FROM linked
        |WHERE contains(url, '.')
        |  AND regexp_extract(url, '[^.]*$') IN
        |    ('pdf','epub','djvu','mobi','doc','docx','rtf','txt','odt',
        |     'ppt','pptx','pages','keynote','wps','md')
        |ORDER BY doc_id""".stripMargin,

    "q_absolutize" ->
      """SELECT doc_id,
        |  CASE doc_id % 5
        |    WHEN 0 THEN 'https://ex.test/a/b/img/' || doc_id || '.jpg'
        |    WHEN 1 THEN 'https://ex.test/abs/' || doc_id || '.png'
        |    WHEN 2 THEN 'http://other.test/' || doc_id || '.gif'
        |    WHEN 3 THEN 'https://proto.test/' || doc_id || '.jpg'
        |  END AS abs_url
        |FROM documents WHERE doc_id % 5 <> 4 ORDER BY doc_id""".stripMargin,

    "q_repartition_count" -> "SELECT count(*) AS n FROM events",

    // q_shuffle's registered form re-sorts after the shuffled write, so
    // the oracle proves content preservation (the multiset of rows)
    // through the three-exchange tail; the order semantics live in
    // ShuffleSpec (see the query's comment).
    "q_shuffle" ->
      """SELECT event_id, user_id, event_type FROM events
        |ORDER BY event_id""".stripMargin,

    // q_wat_extract*: the WARC framing is not SQL-expressible, so each
    // extraction query is oracled against the committed dump of its own
    // seeded fixture (absolute path, same file on both engines; the
    // dumps are value-identical on regeneration and their content is
    // independently pinned by the golden md5s in WatExtractSpec).
    // NULLS FIRST on every sort key: Spark orders NULLS FIRST ascending
    // while DuckDB defaults to NULLS LAST — without the qualifier a
    // NULL alt/page_url would hash-mismatch spuriously.
    "q_wat_extract" ->
      s"""SELECT uid, url, alt, cc_filename, page_url
         |FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')
         |ORDER BY uid NULLS FIRST, cc_filename NULLS FIRST,
         |  page_url NULLS FIRST, url NULLS FIRST, alt NULLS FIRST""".stripMargin,

    "q_wat_extract_1file" ->
      s"""SELECT uid, url, alt, cc_filename, page_url
         |FROM read_parquet('${graft.wat.WatFixture.SingleParquetPath}')
         |ORDER BY uid NULLS FIRST, cc_filename NULLS FIRST,
         |  page_url NULLS FIRST, url NULLS FIRST, alt NULLS FIRST""".stripMargin,

    // q_warc_extract: raw-WARC HTML extraction vs the committed WAT
    // extraction of the SAME seeded pages — hash parity on everything
    // but the per-source cc_filename. This is the WAT-parity oracle for
    // the HTML scanner: a wrong attribute parse, a missed <base href>,
    // or a script-trap leak all change the hash.
    "q_warc_extract" ->
      s"""SELECT uid, url, alt, page_url
         |FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')
         |ORDER BY uid NULLS FIRST, page_url NULLS FIRST,
         |  url NULLS FIRST, alt NULLS FIRST""".stripMargin,

    "q_warc_extract_dsv2" ->
      s"""SELECT uid, url, alt, page_url
         |FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')
         |ORDER BY uid NULLS FIRST, page_url NULLS FIRST,
         |  url NULLS FIRST, alt NULLS FIRST""".stripMargin,

    // extraction over ENGINE-WRITTEN sidecars must equal the committed
    // extraction of the crawler's own WAT — the generation circle
    "q_wat_sidecar" ->
      s"""SELECT uid, url, alt, page_url
         |FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')
         |ORDER BY uid NULLS FIRST, page_url NULLS FIRST,
         |  url NULLS FIRST, alt NULLS FIRST""".stripMargin,

    "q_wat_extract_fleet64" ->
      s"""SELECT uid, url, alt, cc_filename, page_url
         |FROM read_parquet('${graft.wat.WatFixture.Fleet64ParquetPath}')
         |ORDER BY uid NULLS FIRST, cc_filename NULLS FIRST,
         |  page_url NULLS FIRST, url NULLS FIRST, alt NULLS FIRST""".stripMargin,

    "q_wat_tail" ->
      s"""SELECT uid, url, alt, cc_filename, page_url FROM (
         |  SELECT *, row_number() OVER (PARTITION BY uid
         |    ORDER BY cc_filename NULLS FIRST, page_url NULLS FIRST,
         |      url NULLS FIRST, alt NULLS FIRST) AS rn
         |  FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}'))
         |WHERE rn = 1 ORDER BY uid NULLS FIRST""".stripMargin,

    // q_wat_dedup: the Spark side runs LIVE extraction over the WAT
    // fleet; the oracle runs the same deterministic dedup over the
    // committed dump of that extraction. Hash equality therefore proves
    // extraction + dedup end-to-end, not just the dedup.
    "q_wat_dedup" ->
      s"""SELECT uid, url, alt, cc_filename, page_url FROM (
         |  SELECT *, row_number() OVER (PARTITION BY uid
         |    ORDER BY cc_filename NULLS FIRST, page_url NULLS FIRST,
         |      url NULLS FIRST, alt NULLS FIRST) AS rn
         |  FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}'))
         |WHERE rn = 1 ORDER BY uid NULLS FIRST""".stripMargin,

    "q_archive_stats" ->
      s"""SELECT cc_filename, count(*)::BIGINT AS n_rows,
         |  count(DISTINCT page_url)::BIGINT AS n_pages,
         |  count(DISTINCT url)::BIGINT AS n_urls,
         |  sum(CASE WHEN alt <> '' THEN 1 ELSE 0 END)::BIGINT AS n_captioned
         |FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')
         |GROUP BY cc_filename ORDER BY cc_filename""".stripMargin,

    "q_anchor_agg" ->
      s"""SELECT url, count(*)::BIGINT AS n_links,
         |  count(DISTINCT page_url)::BIGINT AS n_pages,
         |  count(DISTINCT alt)::BIGINT AS n_alts,
         |  min(alt) AS first_alt
         |FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')
         |WHERE url IS NOT NULL AND alt IS NOT NULL AND alt <> ''
         |GROUP BY url ORDER BY n_links DESC, url LIMIT 100""".stripMargin,

    // Mirrors q_domain_graph: same HostRegex, same edge filter, same
    // total (n_links desc, src, dst) order for the top-100 cut.
    "q_domain_graph" ->
      s"""WITH e AS (
         |  SELECT lower(regexp_extract(page_url,
         |           '${graft.ext.UrlAnalysis.HostRegex}', 1)) AS src,
         |         lower(regexp_extract(url,
         |           '${graft.ext.UrlAnalysis.HostRegex}', 1)) AS dst,
         |         page_url
         |  FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')),
         |f AS (SELECT * FROM e
         |      WHERE src <> '' AND dst <> '' AND src <> dst)
         |SELECT src, dst, count(*)::BIGINT AS n_links,
         |  count(DISTINCT page_url)::BIGINT AS n_pages
         |FROM f GROUP BY src, dst
         |ORDER BY n_links DESC, src, dst LIMIT 100""".stripMargin,

    // Mirrors q_host_degree: same host extraction, same full-outer
    // degree join, same (total links desc, host) top-100 cut.
    "q_host_degree" ->
      s"""WITH e AS (
         |  SELECT lower(regexp_extract(page_url,
         |           '${graft.ext.UrlAnalysis.HostRegex}', 1)) AS src,
         |         lower(regexp_extract(url,
         |           '${graft.ext.UrlAnalysis.HostRegex}', 1)) AS dst
         |  FROM read_parquet('${graft.wat.WatFixture.TailParquetPath}')),
         |f AS (SELECT * FROM e WHERE src <> '' AND dst <> ''),
         |o AS (SELECT src AS host, count(*)::BIGINT AS out_links,
         |        count(DISTINCT dst)::BIGINT AS out_hosts
         |      FROM f GROUP BY 1),
         |i AS (SELECT dst AS host, count(*)::BIGINT AS in_links,
         |        count(DISTINCT src)::BIGINT AS in_hosts
         |      FROM f GROUP BY 1)
         |SELECT coalesce(o.host, i.host) AS host,
         |  coalesce(out_links, 0)::BIGINT AS out_links,
         |  coalesce(out_hosts, 0)::BIGINT AS out_hosts,
         |  coalesce(in_links, 0)::BIGINT AS in_links,
         |  coalesce(in_hosts, 0)::BIGINT AS in_hosts
         |FROM o FULL JOIN i ON o.host = i.host
         |ORDER BY coalesce(in_links, 0) + coalesce(out_links, 0) DESC,
         |  host LIMIT 100""".stripMargin
  )
}
