package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamOps

/** Stream↔batch equivalence under the DuckDB oracle — the STATEFUL
  * streaming paths (watermarked windowed aggregation, event-time-timeout
  * sessionization) driven through a real file-source micro-batch stream
  * and hash-compared against a batch SQL oracle over the same events.
  *
  * The stateless gate (q_curation_stream) proved the pattern; these two
  * pin the state-store paths. Determinism contract: the fixture events
  * are staged as ONE input file (a single data micro-batch sees the
  * initial watermark 0, so no row is "late" regardless of file order —
  * exactly the determinism a replay/backfill run relies on), then an
  * EMPTY nudge file forces one more micro-batch that runs WITH the
  * advanced watermark: append-mode window finalization and event-time
  * timeouts fire there (StreamOpsSpec pins that timing), making the
  * emitted set a pure function of the data + watermark arithmetic —
  * which is what the oracle computes relationally:
  *
  *  - windows finalize iff window_end <= final watermark
  *    (= max event ms − 2 h lateness);
  *  - an open session times out iff its timeout stamp
  *    (last-activity ms + 30 min gap) < final watermark
  *    (= max event ms − 30 min lateness).
  *
  * Scale note: the staging write is battery plumbing, not the operator;
  * the operators themselves are the StreamOps forms whose state bounds
  * (watermark-horizon windows, O(active users) sessions) are documented
  * at the definition site.
  */
object StreamQueries {

  private def wipe(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      // Using closes the walk stream deterministically — unclosed it
      // holds a directory handle until GC, leaking across battery passes
      scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.delete)
      }
    }

  /** Input-staging memo: tag -> the sf dir whose rows are currently
    * staged under that tag's input dirs. The staged corpus is a pure
    * function of (tag, dir), so a later pass over the same dir can
    * reuse the files and skip the coalesce(1) writes — the checkpoint
    * and sink are still wiped every run (reusing a checkpoint would
    * RESUME instead of re-run; that part of the contract is untouched).
    * The memo is only honored when the staged dirs still EXIST on disk
    * ([[stagedDirsPresent]]): an external tmp reaper wiping the
    * process-scoped scratch mid-process must trigger a re-stage, not a
    * readStream over a glob that matches nothing.
    */
  private val stagedFor =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** True iff every named subdir of this tag's scratch root exists —
    * the disk-side check backing the in-memory [[stagedFor]] memo.
    */
  private def stagedDirsPresent(tag: String, subdirs: String*): Boolean =
    subdirs.forall { sub =>
      java.nio.file.Files.isDirectory(java.nio.file.Paths
        .get(QueryUtil.scratchPath(s"stream/$tag")).resolve(sub))
    }

  /** Fixed scratch root per tag (process-scoped, see
    * [[QueryUtil.processScratch]]), wiped at entry: a fresh path per
    * invocation would leak a checkpoint + sink copy per battery pass
    * (the IoQueries lesson), while reusing a checkpoint with new input
    * would RESUME state instead of re-running — so the dir is fixed
    * within the process and the wipe is mandatory. With `keepInputs`
    * only ckpt/out are wiped and the staged input dirs survive.
    */
  private def streamDir(tag: String, keepInputs: Boolean = false): String = {
    val p = java.nio.file.Paths.get(QueryUtil.scratchPath(s"stream/$tag"))
    if (keepInputs) {
      wipe(p.resolve("ckpt"))
      wipe(p.resolve("out"))
    } else wipe(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Bump every data file under `dir` 60 s into the future: the file
    * stream source orders new files by modification time, and the
    * watermark-nudge batch must sort AFTER the data batch — same-ms
    * writes would leave the order to listing luck.
    */
  private def bumpModTime(dir: String): Unit = {
    val d = new java.io.File(dir)
    val t = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 60000L)
    Option(d.listFiles()).foreach(_.foreach(f =>
      java.nio.file.Files.setLastModifiedTime(f.toPath, t)))
  }

  /** State-store/shuffle width for the battery's micro-batches. Every
    * stateful operator commits one state-store delta PER PARTITION PER
    * BATCH; at the session's 32 partitions the fixture streams (≤100k
    * rows) paid 32 store commits × stores × batches of pure fixed cost
    * per query — ~26 s of the r12 battery was this machinery, not
    * operator work. 8 keeps real parallelism for the join/sort work
    * while cutting the per-batch commit fan-out 4×. Width is a
    * per-query-run choice ONLY (scoped + restored below): a production
    * deployment sizes it to keys-in-horizon / executor count, and
    * nothing in the operators depends on it.
    */
  private val StreamShufflePartitions = "8"

  /** Run one battery stream of `tag` at the stream width, with the
    * scratch-checkpoint confs for its checkpoint under the tag's
    * scratch dir ([[QueryUtil.withScratchCheckpoints]]).
    */
  private def withStreamWidth[A](s: SparkSession, tag: String)(
      body: => A): A =
    QueryUtil.withConfs(s,
        "spark.sql.shuffle.partitions" -> StreamShufflePartitions) {
      QueryUtil.withScratchCheckpoints(s,
        QueryUtil.scratchPath(s"stream/$tag/ckpt"))(body)
    }

  /** Stage `df` as one parquet file, run `mk(streamIn)` to a parquet
    * sink, and return the sink contents. With `nudge` (the default), an
    * empty second file forces one more micro-batch that runs WITH the
    * watermark advanced by batch 1 — required by operators whose OUTPUT
    * is watermark-driven (append-mode window finalization, event-time
    * session timeouts; see class doc). Operators whose emitted set is
    * purely data-driven (dedup/cap/join emit on arrival; the watermark
    * only EVICTS state) pass nudge = false and skip that batch — same
    * emitted rows, one less full state-commit round.
    */
  private def runFileStream(s: SparkSession, srcDir: String,
      staged: => DataFrame,
      schema: String, tag: String, nudge: Boolean = true)(
      mk: DataFrame => DataFrame): DataFrame = withStreamWidth(s, tag) {
    val dirKey = s"$srcDir|$schema|$nudge"
    val reuse = stagedFor.get(tag).contains(dirKey) &&
      stagedDirsPresent(tag, "in/b1")
    val tmp = streamDir(tag, keepInputs = reuse)
    if (!reuse) {
      staged.coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b1")
      if (nudge) {
        // the nudge batch: 0 rows, but a batch nonetheless — it executes
        // with the watermark advanced by b1, which is when append-mode
        // aggregates finalize and event-time timeouts fire. Staged UP
        // FRONT (modtime-bumped so the source orders it second):
        // Trigger.AvailableNow + maxFilesPerTrigger=1 then runs
        // b1-then-b2 as two micro-batches in ONE start/stop cycle.
        staged.limit(0).coalesce(1).write.parquet(s"$tmp/in/b2")
        bumpModTime(s"$tmp/in/b2")
      }
      stagedFor.put(tag, dirKey)
    }
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$tmp/in/*")
    val q = mk(stream)
      .writeStream.outputMode("append")
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("parquet").option("path", s"$tmp/out")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    s.read.parquet(s"$tmp/out")
  }

  /** Two-input variant for stream-stream operators: each side stages as
    * its own single-file source (both fully present in micro-batch 1,
    * so the emitted match set is a pure function of the data — no
    * arrival-order races), same nudge semantics.
    */
  private def runTwoFileStreams(s: SparkSession, srcDir: String,
      left: => DataFrame, leftSchema: String,
      right: => DataFrame, rightSchema: String, tag: String,
      nudge: Boolean = true)(
      mk: (DataFrame, DataFrame) => DataFrame): DataFrame =
    withStreamWidth(s, tag) {
      val dirKey = s"$srcDir|$leftSchema|$rightSchema|$nudge"
      val reuse = stagedFor.get(tag).contains(dirKey) &&
        stagedDirsPresent(tag, "l/b1", "r/b1")
      val tmp = streamDir(tag, keepInputs = reuse)
      if (!reuse) {
        left.coalesce(1).write.mode("overwrite").parquet(s"$tmp/l/b1")
        right.coalesce(1).write.mode("overwrite").parquet(s"$tmp/r/b1")
        if (nudge) {
          left.limit(0).coalesce(1).write.parquet(s"$tmp/l/b2")
          right.limit(0).coalesce(1).write.parquet(s"$tmp/r/b2")
          bumpModTime(s"$tmp/l/b2")
          bumpModTime(s"$tmp/r/b2")
        }
        stagedFor.put(tag, dirKey)
      }
      val ls = s.readStream.schema(leftSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/l/*")
      val rs = s.readStream.schema(rightSchema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/r/*")
      val q = mk(ls, rs)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .format("parquet").option("path", s"$tmp/out")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/out")
    }

  /** Stage `df` as TWO real micro-batches (split by a deterministic
    * hash of `splitCol`) and run `mk` per batch via foreachBatch into
    * a per-batch parquet dir — mode("overwrite") per micro-batch dir
    * makes a retried batch idempotent, which is exactly Spark's
    * documented exactly-once recipe for foreachBatch sinks. This is
    * the streaming INTAKE shape for imperative batch operators: the
    * ranged archive fetch cannot be a streaming-native aggregate (its
    * per-region group-and-read is not a watermarkable agg), so each
    * micro-batch of freshly-DISCOVERED index rows drives one targeted
    * fetch — the continuous-crawl consumption pattern.
    */
  private def runForeachBatch(s: SparkSession, srcDir: String,
      staged: => DataFrame, schema: String, splitCol: String,
      tag: String)(mk: DataFrame => DataFrame): DataFrame =
    withStreamWidth(s, tag) {
      val dirKey = s"$srcDir|$schema"
      val reuse = stagedFor.get(tag).contains(dirKey) &&
        stagedDirsPresent(tag, "in/b1", "in/b2")
      val tmp = streamDir(tag, keepInputs = reuse)
      if (!reuse) {
        val src = staged
        src.where(pmod(hash(col(splitCol)), lit(2)) === 0)
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b1")
        src.where(pmod(hash(col(splitCol)), lit(2)) === 1)
          .coalesce(1).write.mode("overwrite").parquet(s"$tmp/in/b2")
        bumpModTime(s"$tmp/in/b2")
        stagedFor.put(tag, dirKey)
      }
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in/*")
      val q = stream.writeStream
        .foreachBatch { (b: DataFrame, id: Long) =>
          mk(b).write.mode("overwrite").parquet(s"$tmp/out/b$id")
          ()
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/out/b*")
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Streaming intake of the cc-index → targeted ranged fetch: index
    // rows arrive in micro-batches (two real batches split by url
    // hash — the incremental-discovery shape) and each batch drives
    // the SAME coalesced positioned-read fetch + markdown rendering
    // the batch query runs. Oracle IDENTICAL to q_ccindex_fetch:
    // stream == batch on the fetched page set, exactly-once through
    // the per-batch idempotent sink.
    "q_ccindex_stream" -> ((s, dir) => {
      import s.implicits._
      val (idxPath, _) = graft.wat.WatFixture.ensureDocCcIndex(s, dir)
      def idx = s.read.parquet(idxPath)
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html" &&
          col("url_host_name") === "docs.test")
        .select("url", "content_digest", "warc_filename",
          "warc_record_offset", "warc_record_length")
      runForeachBatch(s, dir, idx,
        "url STRING, content_digest STRING, warc_filename STRING, " +
          "warc_record_offset LONG, warc_record_length LONG",
        splitCol = "url", tag = "ccindex-stream") { b =>
        graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(
          graft.wat.CcIndex.fetchHtmlPages(b).as[(String, String)])
          .toDF()
      }
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),
    // Watermarked tumbling-window agg through the stream: only windows
    // the 2 h watermark has passed are final (append mode), so the
    // oracle is the batch hourly agg restricted to finalized windows.
    "q_hourly_stream" -> ((s, dir) => {
      val ev = QueryUtil.events(s, dir)
        .select(col("ts"), col("event_type"), col("value"))
      runFileStream(s, dir, ev, "ts TIMESTAMP, event_type STRING, value DOUBLE",
        "hourly-stream")(StreamOps.hourlyAgg)
        .orderBy("hour", "event_type")
    }),

    // Streaming cross-format triage: the binary-decode path through a
    // real micro-batch file stream — mixed blobs (all thirteen muxer-
    // twin families) arrive as a stream, each micro-batch sniffs + parses
    // per-row (stateless mapPartitions: no state store, no watermark),
    // exactly-once through the checkpointed parquet sink. Same oracle
    // as the batch q_media_triage: stream == batch on decode.
    "q_triage_stream" -> ((s, dir) => {
      import s.implicits._
      val media = graft.ext.Multimodal.syntheticMixedCorpus(
        QueryUtil.table(s, dir, "documents")
          .where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long])
      // nudge = false: triage is stateless, every row emits on arrival
      runFileStream(s, dir, media, "doc_id LONG, bytes BINARY, mime STRING",
        "triage-stream", nudge = false) { in =>
        graft.ext.Multimodal.mediaTriage(in).toDF()
          .select("doc_id", "format", "width", "height", "n_units")
      }
        .orderBy("doc_id")
    }),

    // Watermarked streaming exact dedup (the pipeline's A1 through a
    // real micro-batch stream): one emission per key, state evicted by
    // the watermark. Only the KEY is kept: which physical row survives
    // within a batch is partition-order-dependent by design (first
    // processed wins), the emitted key SET is not — and the oracle's
    // row+hash compare still catches a double emission or a dropped
    // key exactly.
    "q_dedup_stream" -> ((s, dir) => {
      val ev = QueryUtil.events(s, dir)
        .select(concat(col("event_type"), lit("|"),
          col("user_id").cast("string")).as("uid"), col("ts"))
      // nudge = false: dedup emits each first-seen key ON ARRIVAL; the
      // watermark batch only evicts state (StreamOpsSpec pins eviction)
      runFileStream(s, dir, ev, "uid STRING, ts TIMESTAMP",
        "dedup-stream", nudge = false)(in => StreamOps.dedupStream(in, "ts"))
        .select("uid")
        .orderBy("uid")
    }),

    // Per-key streaming admission cap (flatMapGroupsWithState with
    // event-time timeout) — admit the first 10 events per user in
    // (ts_us, event_id) order, drop the rest: the intake rate limiter.
    // With the fixture staged as ONE micro-batch the admitted set is a
    // pure function of the data (the in-batch sort is the operator's
    // contract), which is exactly what the oracle ranks relationally.
    "q_cap_stream" -> ((s, dir) => {
      val ev = QueryUtil.events(s, dir)
        .select(col("user_id").cast("string").as("key"),
          unix_micros(col("ts")).as("ts_us"), col("event_id").as("id"))
      // nudge = false: admissions are emitted in the data batch; the
      // event-time timeout only removes exhausted counters
      runFileStream(s, dir, ev, "key STRING, ts_us LONG, id LONG",
        "cap-stream", nudge = false) { in =>
        import s.implicits._
        StreamOps.capPerKeyStream(in.as[StreamOps.Keyed], k = 10).toDF()
      }
        .orderBy("key", "admit_rank")
    }),

    // Streaming FUZZY dedup: one emission per 8-member MinHash
    // signature within the watermark horizon — the intake-side
    // near-dup collapse. Arrival time is synthesized deterministically
    // from doc_id (documents carry no event time); only the signature
    // SET is compared (which physical doc survives a batch is
    // partition-order-dependent, the signature set is not), and the
    // oracle recomputes the identical hash family relationally.
    "q_fuzzy_dedup_stream" -> ((s, dir) => {
      val docs = QueryUtil.table(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          // offset well past epoch 0: a doc_id-0 arrival AT the
          // initial watermark would be discarded as late
          timestamp_micros(col("doc_id") * lit(1000000L) +
            lit(1600000000000000L)).as("ts"))
      // nudge = false: signature survivors emit on arrival (dedup
      // semantics), watermark only evicts
      runFileStream(s, dir, docs, "doc_id LONG, text STRING, ts TIMESTAMP",
        "fdedup-stream", nudge = false)(in =>
        StreamOps.fuzzyDedupStream(in, "text", "ts"))
        .select(col("minhash_sig").as("sig"))
        .orderBy("sig")
    }),

    // Stream-stream interval join (attribution: a click within 6
    // hours after a view by the same user), both sides watermarked
    // so state stays bounded by the interval + lateness horizon. Both
    // sides land in micro-batch 1, so the emitted match set equals the
    // batch interval join the oracle computes.
    "q_interval_join_stream" -> ((s, dir) => {
      val ev = QueryUtil.events(s, dir)
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
          col("event_id").as("view_id"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
      // nudge = false: an INNER stream-stream join emits a match in the
      // batch where both sides are present (all data lands in batch 1);
      // the watermark batch only evicts buffered state
      runTwoFileStreams(s, dir,
        views, "v_user LONG, v_ts TIMESTAMP, view_id LONG",
        clicks, "c_user LONG, c_ts TIMESTAMP, click_id LONG",
        "ij-stream", nudge = false) { (l, r) =>
        StreamOps.intervalJoinStreams(l, r, "v_user", "c_user",
            "v_ts", "c_ts", window = "6 hours")
          .select(col("v_user").as("user_id"), col("view_id"),
            col("click_id"))
      }
        .orderBy("user_id", "view_id", "click_id")
    }),

    // Event-time-timeout sessionization through the stream: the sink
    // keeps the FINAL (closed = true) rows — closed either by a
    // successor event past the 30 min gap or by the inactivity timeout
    // once the final watermark passes it. Open sessions (the per-batch
    // progress rows) are deliberately excluded: they depend on the
    // micro-batch split, the closed set does not.
    "q_sessionize_stream" -> ((s, dir) => {
      val ev = QueryUtil.events(s, dir)
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"))
      runFileStream(s, dir, ev, "user_id LONG, ts_us LONG, event_id LONG",
        "sess-stream") { in =>
        import s.implicits._
        StreamOps.sessionize(in.as[StreamOps.Evt]).toDF()
      }
        .where(col("closed"))
        .select(col("user_id"), col("session_idx"), col("n_events"),
          col("start_us"), col("end_us"))
        .orderBy("user_id", "session_idx")
    })
  )

  val oracle: Map[String, String] = Map(
    // stream == batch on the index-driven fetch: the q_ccindex_fetch
    // rendering verbatim (micro-batching must not change the page set)
    "q_ccindex_stream" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL
        |    AND doc_id % 11 <> 3 AND doc_id % 13 <> 5)
        |SELECT 'https://docs.test/doc' || doc_id::VARCHAR || '.html'
        |    AS page_url,
        |  '[home](/) [about](/a) [links](/x)' ||
        |  CASE WHEN t = '' THEN '' ELSE chr(10) || chr(10) || t END ||
        |  CASE WHEN doc_id % 4 = 0
        |       THEN chr(10) || chr(10) || '[click now](/b) [buy](/p)'
        |       ELSE '' END ||
        |  chr(10) || chr(10) || '[contact](/c) [terms](/t) c 2026'
        |    AS markdown
        |FROM d ORDER BY page_url""".stripMargin,
    // Batch hourly agg restricted to watermark-finalized windows:
    // window_end (ms) <= max event ms - 2 h. Spark's watermark tracks
    // max event time in FLOOR-to-ms (µs/1000), matching epoch_ms.
    "q_hourly_stream" ->
      """WITH wm AS (
        |  SELECT max(epoch_ms(ts::TIMESTAMP)) - 7200000 AS w FROM events)
        |SELECT date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP AS hour,
        |  event_type, count(*) AS n,
        |  sum(round(value*100)::BIGINT) / 100.0 AS sum_value
        |FROM events, wm
        |GROUP BY 1, 2, wm.w
        |HAVING epoch_ms(date_trunc('hour', ts::TIMESTAMP)::TIMESTAMP)
        |  + 3600000 <= wm.w
        |ORDER BY hour, event_type""".stripMargin,

    // stream == batch on binary decode: the q_media_triage spec
    // arithmetic verbatim (format/dims/units by id%13; png/webp/tiff
    // inner rotations by id//13)
    "q_triage_stream" ->
      """SELECT doc_id,
        |  CASE doc_id % 13 WHEN 0 THEN 'mp4' WHEN 1 THEN 'webm'
        |    WHEN 2 THEN 'avi' WHEN 3 THEN 'gif' WHEN 4 THEN 'audio'
        |    WHEN 5 THEN 'tar' WHEN 6 THEN 'zip' WHEN 7 THEN 'pdf'
        |    WHEN 8 THEN 'jpeg' WHEN 10 THEN 'png' WHEN 11 THEN 'webp'
        |    WHEN 12 THEN 'tiff' ELSE 'unknown' END AS format,
        |  (CASE WHEN doc_id % 13 IN (0, 1, 2, 3, 8, 10, 11, 12)
        |        THEN 16 * (1 + doc_id % 5) ELSE 0 END)::BIGINT AS width,
        |  (CASE WHEN doc_id % 13 IN (0, 1, 2, 3, 8, 10, 11, 12)
        |        THEN 16 * (1 + doc_id % 4) ELSE 0 END)::BIGINT AS height,
        |  (CASE doc_id % 13 WHEN 0 THEN 2 + doc_id % 3
        |    WHEN 1 THEN 2 + doc_id % 4 WHEN 2 THEN 2 + doc_id % 5
        |    WHEN 3 THEN 1 + doc_id % 3 WHEN 4 THEN 100 + doc_id % 50
        |    WHEN 5 THEN 1 + doc_id % 4 WHEN 6 THEN 1 + doc_id % 3
        |    WHEN 7 THEN 1 + doc_id % 2 WHEN 8 THEN 1
        |    WHEN 10 THEN 1 + (doc_id // 13) % 3
        |    WHEN 11 THEN CASE WHEN (doc_id // 13) % 3 = 2
        |                      THEN 2 + (doc_id // 13) % 2 ELSE 1 END
        |    WHEN 12 THEN 1 + (doc_id // 13) % 3
        |    ELSE 0 END)::BIGINT AS n_units
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // One emission per key: the stream dedup's key set equals DISTINCT
    // over the batch. A double emission or a dropped key breaks the
    // row-count + hash compare.
    "q_dedup_stream" ->
      """SELECT DISTINCT event_type || '|' || user_id::VARCHAR AS uid
        |FROM events ORDER BY uid""".stripMargin,

    // First-10-per-user admission in (ts_us, event_id) order — the
    // relational rank of what the stateful cap admits online.
    "q_cap_stream" ->
      """SELECT user_id::VARCHAR AS key, epoch_us(ts::TIMESTAMP) AS ts_us,
        |  event_id AS id, rn AS admit_rank
        |FROM (SELECT user_id, ts, event_id,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS rn
        |      FROM events)
        |WHERE rn <= 10 ORDER BY key, admit_rank""".stripMargin,

    // Distinct MinHash signatures, same hash family as the stream op
    // (raw-space-split distinct tokens → h32 → 8 seeded mixes → min),
    // the q_dedup_minhash oracle pattern minus the survivor pick.
    "q_fuzzy_dedup_stream" -> {
      val sigs = (0 until 8).map { i =>
        "list_aggregate(list_transform(hs, h -> " +
          s"${graft.functions.Hashing.mixSql(i, "h")}), 'min') AS mh$i"
      }.mkString(",\n    ")
      val sigCat = (0 until 8).map(i => s"mh$i").mkString(" || '_' || ")
      s"""WITH hashed AS (
         |  SELECT doc_id,
         |    list_transform(list_distinct(string_split(text, ' ')),
         |      w -> ${graft.functions.Hashing.h32Sql("w")}) AS hs
         |  FROM documents WHERE text IS NOT NULL),
         |sig AS (
         |  SELECT doc_id,
         |    $sigs
         |  FROM hashed)
         |SELECT DISTINCT $sigCat AS sig FROM sig
         |ORDER BY sig""".stripMargin
    },

    // Batch interval join: click in [view_ts, view_ts + 6 h],
    // inclusive both ends (matching the stream join's condition).
    "q_interval_join_stream" ->
      """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
        |FROM events v JOIN events c ON v.user_id = c.user_id
        |WHERE v.event_type = 'view' AND c.event_type = 'click'
        |  AND epoch_us(c.ts::TIMESTAMP) >= epoch_us(v.ts::TIMESTAMP)
        |  AND epoch_us(c.ts::TIMESTAMP)
        |      <= epoch_us(v.ts::TIMESTAMP) + 21600000000
        |ORDER BY v.user_id, view_id, click_id""".stripMargin,

    // Batch gap sessionization (identical arithmetic to q_sessionize),
    // restricted to CLOSED sessions: a successor session exists, or the
    // inactivity timeout stamp (end ms + 30 min) sits below the final
    // watermark (max event ms - 30 min lateness).
    "q_sessionize_stream" ->
      """WITH ev AS (
        |  SELECT user_id, event_id, epoch_us(ts::TIMESTAMP) AS ts_us,
        |    lag(epoch_us(ts::TIMESTAMP)) OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts::TIMESTAMP), event_id) AS prev_us
        |  FROM events),
        |flagged AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN prev_us IS NULL OR ts_us - prev_us > 1800000000
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM ev),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    (sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS session_idx
        |  FROM flagged),
        |agg AS (
        |  SELECT user_id, session_idx, count(*) AS n_events,
        |    min(ts_us) AS start_us, max(ts_us) AS end_us
        |  FROM sess GROUP BY user_id, session_idx),
        |wm AS (SELECT max(ts_us) // 1000 - 1800000 AS w FROM
        |  (SELECT epoch_us(ts::TIMESTAMP) AS ts_us FROM events))
        |SELECT user_id, session_idx, n_events, start_us, end_us
        |FROM agg, wm
        |WHERE EXISTS (SELECT 1 FROM agg a2 WHERE a2.user_id = agg.user_id
        |        AND a2.session_idx = agg.session_idx + 1)
        |   OR (end_us // 1000 + 1800000) < wm.w
        |ORDER BY user_id, session_idx""".stripMargin
  )
}
