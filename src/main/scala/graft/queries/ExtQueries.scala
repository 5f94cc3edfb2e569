package graft.queries

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Clustering, Contamination, Mp4, Multimodal, NearDup, Scrub, Similarity, Sketches, SubstringDedup, Toxicity, TextAnalysis => TA}
import graft.functions.Hashing
import QueryUtil._

/** LLM-data-pipeline extension battery: text analysis, fingerprints,
  * MinHash+LSH / SimHash / n-gram-Jaccard near-dup, embedding similarity
  * (brute-force + IVF), sign-signature embedding dedup, multimodal
  * metadata. Every query has an exactly-matching DuckDB oracle (shared
  * h32 hash, exact integer quantization — see graft.functions.Hashing and
  * graft.ext.Similarity).
  */
object ExtQueries {

  import RefQueries.QueryFn

  private val stopSql = TA.Stopwords.map(s => s"'$s'").mkString(", ")

  private def docsWithTokens(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")

  /** The documents corpus fanned out to the session's parallelism
    * (QueryUtil.fanOut) for PER-ROW-HEAVY consumers: the sf fixtures
    * are single-row-group parquet — an unsplittable one-task scan — so
    * tokenization-/parse-/generation-heavy bodies would otherwise run
    * single-core (guide §2.5). Applied per call site, not on the shared
    * feed: a 32-task stage carries ~0.2-0.3 s of fixed scheduling/
    * exchange cost at bench scale, which measured NET-NEGATIVE for the
    * ~50 light per-row consumers (q_mix +0.36 s, q_charset_decode
    * +0.38 s) and strongly positive for heavy ones (q_pdf_text
    * -2.3 s, q_oov_bigrams -1.8 s) — so each body opts in on evidence.
    * At scale the fan-out self-disables (multi-split scans skip the
    * repartition), so no query pays a corpus shuffle for it.
    */
  private def docsFanned(s: SparkSession, dir: String): DataFrame =
    fanOut(table(s, dir, "documents"), "doc_id")

  /** q_curation_stream's staged-input memo (see StreamQueries.stagedFor):
    * the sf dir whose staged corpus currently sits under stream/cur/in.
    */
  private val curationStagedFor =
    new java.util.concurrent.atomic.AtomicReference[Option[String]](None)

  /** One deterministic single-track MP4 per document — the executor
    * lambda lives in Multimodal (operator layer): the query registry's
    * initializer is driver-only and must never be loaded by a task
    * (Multimodal.syntheticVideoMedia's scaladoc records why, with the
    * per-doc spec the q_video_* oracles recompute).
    */
  private def videoMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Multimodal.syntheticVideoMedia(
      docsWithTokens(s, dir).where(col("doc_id").isNotNull)
        .select("doc_id").as[java.lang.Long])
  }

  /** Committed JSONL interchange fixture (2 gzip shards + 1 corrupt
    * line) for q_jsonl_roundtrip.
    */
  private def jsonlCorpusDir: String =
    new java.io.File(graft.wat.WatFixture.repoRoot, "tools/jsonl_corpus")
      .getAbsolutePath

  /** Shared hashed-linear quality-score CTE stack (t/s/sc — sc ends
    * with (doc_id, n_tokens, score_milli)); used by q_quality_lr and
    * q_token_budget.
    */
  private def qlrScoreCtes: String =
    s"""t AS (SELECT doc_id, unnest($tokensSql) AS token
       |           FROM documents WHERE doc_id IS NOT NULL),
       |s AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |        sum(${graft.ext.QualityModel.hashedWeightSql("token")})::BIGINT
       |          AS wsum
       |      FROM t GROUP BY doc_id),
       |sc AS (SELECT doc_id, n_tokens,
       |         ((wsum + 50) // n_tokens)::BIGINT AS score_milli
       |       FROM s)""".stripMargin

  /** Synthetic HTML scaffolding for q_boilerplate — link-dense nav, a
    * 25% ad block, a link-dense footer around the document body;
    * mirrored verbatim in the oracle.
    */
  private val bpNav = "<html><head><title>d</title></head><body><nav>" +
    "<a href=\"/\">home</a> <a href=\"/a\">about</a> " +
    "<a href=\"/x\">links</a></nav><div>"
  private val bpAd =
    "<div><a href=\"/b\">click now</a> <a href=\"/p\">buy</a></div>"
  private val bpFoot = "<footer><a href=\"/c\">contact</a> " +
    "<a href=\"/t\">terms</a> c 2026</footer></body></html>"
  private def bpHtml =
    concat(lit(bpNav), col("text"), lit("</div>"),
      when(pmod(col("doc_id"), lit(4)) === 0, lit(bpAd)).otherwise(lit("")),
      lit(bpFoot))

  /** Driver-side form of [[bpHtml]] for fixtures that carry the page
    * OUTSIDE a DataFrame (the raw-WARC text pipeline wraps each doc's
    * text in this scaffold before framing it as an HTTP response) —
    * must stay byte-identical to the Column form and the oracle CTE.
    */
  private[graft] def bpHtmlFor(docId: Long, text: String): String =
    bpNav + text + "</div>" + (if (docId % 4 == 0) bpAd else "") + bpFoot

  /** The blocklisted boilerplate injected into 30% of docs for the
    * toxicity queries — mirrored verbatim in [[toxAugSql]].
    */
  private val toxBoiler = " win the casino jackpot lottery casino now"
  private def toxAug =
    concat(col("text"),
      when(pmod(col("doc_id"), lit(10)) < 3, lit(toxBoiler))
        .otherwise(lit("")))

  val queries: Map[String, QueryFn] = Map(
    // --- text analysis ---
    "q_text_stats" -> ((s, dir) => {
      docsFanned(s, dir).select(
        col("doc_id"),
        TA.tokenCount(col("text")).as("n_tokens"),
        TA.distinctTokenCount(col("text")).as("n_distinct"),
        TA.alphaChars(col("text")).as("alpha_chars"),
        TA.stopwordHits(col("text")).as("stop_hits"))
        .orderBy("doc_id")
    }),

    "q_quality" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).select(
        col("doc_id"), col("n_chars"),
        TA.tokenCount(col("text")).as("nt"),
        TA.distinctTokenCount(col("text")).as("nd"),
        TA.alphaChars(col("text")).as("ac"),
        TA.stopwordHits(col("text")).as("sh"))
      d.select(col("doc_id"),
        TA.qualityScore(col("nt"), col("nd"), col("sh"), col("ac"),
          col("n_chars")).as("score"))
        .withColumn("label",
          when(col("score") >= 0.8, "good")
            .when(col("score") >= 0.65, "ok").otherwise("low"))
        .orderBy("doc_id")
    }),

    "q_langid" -> ((s, dir) => {
      val en = Seq("the", "a", "of")
      val code = Seq("spark", "query", "join", "table")
      val data = Seq("data", "row", "column", "batch")
      docsWithTokens(s, dir).select(
        col("doc_id"),
        TA.markerHits(col("text"), en).as("s_en"),
        TA.markerHits(col("text"), code).as("s_code"),
        TA.markerHits(col("text"), data).as("s_data"))
        .withColumn("pred",
          when(col("s_en") >= col("s_code") && col("s_en") >= col("s_data"), "en")
            .when(col("s_code") >= col("s_data"), "code")
            .otherwise("data"))
        .orderBy("doc_id")
    }),

    // Staged projections share the per-token md5 array between min_fp
    // and roll_fp (attribute references, not re-inlined expression
    // trees — CollapseProject keeps multi-use non-cheap aliases staged):
    // one md5 per token total, ~1.8× faster than the naive composition.
    "q_fingerprint" -> ((s, dir) => {
      val staged = docsFanned(s, dir)
        .select(col("doc_id"), col("text"), TA.tokens(col("text")).as("tks"))
        .select(col("doc_id"), col("text"), col("tks"),
          transform(col("tks"), w => md5(w)).as("md5s"))
        .select(col("doc_id"), col("text"), col("tks"), col("md5s"),
          transform(col("md5s"),
            m => conv(substring(m, 1, 8), 16, 10).cast("long")).as("hs"))
      staged.select(
        col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("tks"))))).as("bag_fp"),
        array_min(col("md5s")).as("min_fp"),
        TA.rollingFromHashes(col("hs")).as("roll_fp"),
        TA.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")
    }),

    "q_token_topk" -> ((s, dir) => {
      docsWithTokens(s, dir)
        .select(explode(TA.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token"))
        .limit(20)
    }),

    // --- near-dup ---
    "q_minhash_lsh" -> ((s, dir) => {
      val words = array_distinct(split(col("text"), " "))
      val bands = NearDup.lshBands(docsWithTokens(s, dir), col("doc_id"),
        words, bands = 4, rowsPerBand = 2)
      NearDup.lshBuckets(bands)
        .orderBy("band_id", "band_key")
    }),

    "q_simhash" -> ((s, dir) => {
      NearDup.simhash(docsWithTokens(s, dir), Seq("doc_id"), col("text"),
        bits = 16)
        .orderBy("doc_id")
    }),

    // Banded Hamming LSH over bit signatures (the SimHash/perceptual-
    // hash pair-finder): planted 48-bit signatures — groups of 5 docs
    // share a base hash with 0..4 low bits flipped, so same-group pairs
    // sit within distance 4 and cross-group pairs are random (~24).
    // bands=4 x 12 bits, verify bit_count(xor) <= 3: pigeonhole recall
    // is exact for the kept distances, and the 0-vs-15 noise pair
    // (distance 4) shows the verify threshold cutting.
    "q_phash_neardup" -> ((s, dir) => {
      val grp = (col("doc_id") / 5).cast("long").cast("string")
      val base = Hashing.h32(concat(lit("pg|"), grp)) * 65536L +
        pmod(Hashing.h32(concat(lit("pq|"), grp)), lit(65536L))
      val noise = when(col("doc_id") % 5 === 1, 1L)
        .when(col("doc_id") % 5 === 2, 3L)
        .when(col("doc_id") % 5 === 3, 7L)
        .when(col("doc_id") % 5 === 4, 15L)
        .otherwise(0L)
      val hashed = docsWithTokens(s, dir)
        .select(col("doc_id"), base.bitwiseXOR(noise).as("phash"))
      NearDup.hammingNearDupPairs(hashed, "doc_id", "phash",
        bands = 4, bandBits = 12, maxDist = 3, maxBucket = 100)
        .orderBy("d1", "d2")
    }),

    "q_ngram_jaccard" -> ((s, dir) => {
      val d = docsFanned(s, dir).select(
        col("doc_id"), col("lang"),
        floor(col("n_chars") / 50).cast("long").as("bucket"),
        NearDup.bigramShingles(TA.tokens(col("text"))).as("sh"))
      NearDup.jaccardPairs(d, minJaccard = 0.6, maxDf = 8)
        .orderBy("d1", "d2")
    }),

    // Directed doc-in-doc containment — the syndication/quote-inclusion
    // signal Jaccard misses when sizes differ (a fully-quoted short doc
    // has containment ~1000 but Jaccard ~0). No length bucketing (the
    // container is DELIBERATELY allowed to be much larger); lang is the
    // only blocking key.
    "q_containment" -> ((s, dir) => {
      val d = docsFanned(s, dir).select(
        col("doc_id"), col("lang"),
        NearDup.bigramShingles(TA.tokens(col("text"))).as("sh"))
      NearDup.containmentPairs(d, minContainMilli = 600L, maxDf = 8,
        minGrams = 3L)
        .orderBy("d1", "d2")
    }),

    // Winnowing (MOSS) fingerprint pairs: ordered 3-gram hashes, window
    // w=4 minima as fingerprints, pairs sharing >= 2 after a df cutoff.
    // The robust partial-overlap detector at ~2/(w+1) of the full-index
    // cost; any shared run of >= 6 tokens leaves a shared fingerprint.
    "q_winnow" -> ((s, dir) => {
      NearDup.winnowPairs(docsWithTokens(s, dir), "doc_id",
        TA.tokens(col("text")), k = 3, w = 4, maxDf = 8, minShared = 2L)
        .orderBy("d1", "d2")
    }),

    // Gibberish / encoding-damage detector: per-doc share of distinct
    // char bigrams unseen in a held-out reference sample's vocabulary
    // (doc_id % 10 = 0). All-integer milli rate; the vocabulary is
    // bounded by charset² so its side of the join broadcasts.
    "q_oov_bigrams" -> ((s, dir) => {
      val docs = docsFanned(s, dir)
      val bi = docs.select(col("doc_id"),
        array_distinct(TA.charBigrams(col("text"))).as("bs"))
      // explode_outer + null filter, NOT explode: InferFiltersFromGenerate
      // would otherwise synthesize size(bs)>0, inline the whole bigram
      // expression into a pushed-down filter below the fan-out exchange,
      // and evaluate it twice — once single-task (the r10 alias-
      // substitution class; measured 1.7 s of the query's 2.7 s)
      val ex = bi.select(col("doc_id"), explode_outer(col("bs")).as("b"))
        .where(col("b").isNotNull)
      val vocab = ex.where(col("doc_id") % 10 === 0)
        .select(col("b"), lit(1L).as("__in_vocab")).distinct()
      val agg = ex.join(broadcast(vocab), Seq("b"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bi"),
          count(when(col("__in_vocab").isNull, 1)).as("n_oov"))
      docs.select("doc_id").join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bi"), lit(0L)).as("n_bi"),
          coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          coalesce(expr("(n_oov * 1000) div n_bi"), lit(0L))
            .as("oov_milli"))
        .orderBy("doc_id")
    }),

    "q_embed_sig" -> ((s, dir) => {
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.signSignature(col("embedding"), bits = 12).as("sig"))
        .groupBy("sig")
        .agg(count(lit(1)).as("n_vecs"),
          min(col("vec_id")).as("min_vec"), max(col("vec_id")).as("max_vec"))
        .where(col("n_vecs") > 1)
        .orderBy("sig")
    }),

    // embedding near-dup: sign-bucket LSH candidates (degenerate buckets
    // dropped before pairing — the cap the oracle mirrors) + exact
    // cosine verify
    "q_embed_neardup" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      Similarity.nearDupPairs(p, sigBits = 12, minCos = 0.25, maxBucket = 100)
        .orderBy("d1", "d2")
    }),

    // Lloyd k-means for IVF centroid training — 2 exact-integer rounds
    // (argmax-by-cosine assignment, truncating `div` means), final
    // centroids exploded to scalar (cell, pos, m) rows for the oracle.
    "q_kmeans" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      val cents = Similarity.kmeansCentroids(p, p.where(col("vec_id") < 8),
        iters = 2)
      cents.select(col("vec_id").as("cell"), posexplode(col("qv")))
        .select(col("cell"), (col("pos") + 1).cast("long").as("pos"),
          col("col").as("m"))
        .orderBy("cell", "pos")
    }),

    // --- similarity search ---
    "q_cosine_topk" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      Similarity.bruteForceTopK(p, p.where(col("vec_id") < 5), k = 3)
        .orderBy("q_id", "rk")
    }),

    // Multi-probe IVF: queries probe their top-2 cells — recall recovery
    // for near-boundary queries at 2× candidate cost, still never N×Q.
    "q_ann_ivf_mp" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      val cents = p.where(col("vec_id") < 8)
      val assigned = Similarity.ivfAssign(p, cents)
      val qProbes = Similarity.ivfAssignProbes(
        p.where(col("vec_id").between(8, 12)), cents, probes = 2)
      Similarity.ivfTopKProbed(assigned, qProbes, k = 2)
        .orderBy("q_id", "rk")
    }),

    // Product quantization ANN: 64-dim vectors compressed to 4 subspace
    // codes (sampled codebook, donors vec_id < 16), queries ranked by
    // asymmetric distance — m table lookups per neighbor instead of a
    // full-vector scan, PQ's memory-bandwidth win at corpus scale. All
    // arithmetic exact integer squared-L2 on milli-quantized vectors.
    "q_ann_pq" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      val cb = Similarity.pqCodebook(p.where(col("vec_id") < 16), m = 4)
      val codes = Similarity.pqEncode(p, cb, m = 4)
      Similarity.pqTopK(codes, cb, p.where(col("vec_id") < 5), m = 4,
        topK = 3)
        .orderBy("q_id", "rk")
    }),

    // IVF-PQ composed (the production ANN shape): coarse cells restrict
    // each query's ADC scan to its own cell; same centroids as
    // q_ann_ivf, same codebook as q_ann_pq.
    "q_ann_ivfpq" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      val cents = p.where(col("vec_id") < 8)
      val assigned = Similarity.ivfAssign(p, cents)
      val cb = Similarity.pqCodebook(p.where(col("vec_id") < 16), m = 4)
      val codes = Similarity.pqEncode(p, cb, m = 4)
      Similarity.ivfPqTopK(assigned, codes, cb,
        col("vec_id").between(8, 12), m = 4, topK = 3)
        .orderBy("q_id", "rk")
    }),

    "q_ann_ivf" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      val assigned = Similarity.ivfAssign(p, p.where(col("vec_id") < 8))
      Similarity.ivfTopK(assigned, col("vec_id").between(8, 12), k = 2)
        .orderBy("q_id", "rk")
    }),

    // ANN quality scorecard: recall@2 of the 1-probe IVF index against
    // brute-force ground truth on the same query sample — the
    // measurement that justifies (or indicts) index parameters before a
    // corpus-scale rollout. Both inputs are bounded per-query top-k
    // frames; the corpus is touched once per side.
    "q_ann_recall" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      val assigned = Similarity.ivfAssign(p, p.where(col("vec_id") < 8))
      val approx = Similarity.ivfTopK(assigned,
        col("vec_id").between(8, 12), k = 2)
      val exact = Similarity.bruteForceTopK(p,
        p.where(col("vec_id").between(8, 12)), k = 2)
      Similarity.recallAtK(approx, exact).orderBy("q_id")
    }),

    // SemDeDup at the PRODUCTION threshold (minCos 0.85) over the
    // clustered-geometry fixture (Similarity.clusteredFixture: planted
    // orthogonal centroids + integer-milli noise, cell-mates at cosine
    // ~0.95) — the threshold actually FIRES on planted neighbors here,
    // unlike the near-orthogonal embeddings table that forces the
    // fixture-bent 0.35 in q_semdedup. 512 vectors / 8 cells of 64:
    // most of each cell drops; the oracle rebuilds the identical
    // vectors closed-form and replays the same assignment/pair logic.
    "q_semdedup_clustered" -> ((s, dir) => {
      val p = Similarity.clusteredFixture(s, 512)
      Similarity.semDedup(p, Similarity.clusteredCentroids(s),
        minCos = 0.85, maxCell = 400)
        .orderBy("vec_id")
    }),

    // IVF recall@2 on clustered geometry (the regime IVF is designed
    // for — true neighbors share the query's cell), production shape:
    // planted centroids, queries 8..12, brute-force ground truth.
    "q_ann_recall_clustered" -> ((s, dir) => {
      val p = Similarity.clusteredFixture(s, 512)
      val assigned = Similarity.ivfAssign(p, Similarity.clusteredCentroids(s))
      val approx = Similarity.ivfTopK(assigned,
        col("vec_id").between(8, 12), k = 2)
      val exact = Similarity.bruteForceTopK(p,
        p.where(col("vec_id").between(8, 12)), k = 2)
      Similarity.recallAtK(approx, exact).orderBy("q_id")
    }),

    // TRAINED-PQ ADC top-k on clustered geometry: per-subspace Lloyd
    // codebooks (init = the 16 sampled donors, 2 L2 rounds —
    // Similarity.pqTrainCodebooks), then the identical encode/ADC
    // machinery as q_ann_pq. The oracle unrolls both Lloyd rounds in
    // SQL with the same truncation-toward-zero integer means, so every
    // trained centroid value is cross-engine exact.
    "q_ann_pq_trained" -> ((s, dir) => {
      val p = Similarity.clusteredFixture(s, 512)
      val cb = Similarity.pqTrainCodebooks(p, m = 4, k = 16, iters = 2)
      val codes = Similarity.pqEncode(p, cb, m = 4)
      Similarity.pqTopK(codes, cb,
        p.where(col("vec_id").between(8, 31)), m = 4, topK = 3)
        .orderBy("q_id", "rk")
    }),

    // IVF-PQ with the TRAINED codebook — the full production ANN stack
    // (coarse planted-centroid cells restricting each query's ADC scan
    // + trained per-subspace quantizers) composed on the clustered
    // fixture. Same coarse assignment as q_ann_recall_clustered, same
    // trained codebook as q_ann_pq_trained; the oracle composes the
    // same two CTE chains with the cell-consistency predicate.
    "q_ann_ivfpq_trained" -> ((s, dir) => {
      val p = Similarity.clusteredFixture(s, 512)
      val assigned = Similarity.ivfAssign(p, Similarity.clusteredCentroids(s))
      val cb = Similarity.pqTrainCodebooks(p, m = 4, k = 16, iters = 2)
      val codes = Similarity.pqEncode(p, cb, m = 4)
      Similarity.ivfPqTopK(assigned, codes, cb,
        col("vec_id").between(8, 31), m = 4, topK = 3)
        .orderBy("q_id", "rk")
    }),

    // The scorecard the training is FOR: recall@3 vs brute-force
    // ground truth, sampled codebook beside the trained one at equal m
    // — the hash-green proof that training helps (trained >= sampled
    // per query on this geometry; a spec also asserts the inequality).
    "q_ann_pq_recall" -> ((s, dir) => {
      val p = Similarity.clusteredFixture(s, 512)
      val queries = p.where(col("vec_id").between(8, 31))
      val exact = Similarity.bruteForceTopK(p, queries, k = 3)
      val cbS = Similarity.pqCodebook(p.where(col("vec_id") < 16), m = 4)
      val cbT = Similarity.pqTrainCodebooks(p, m = 4, k = 16, iters = 2)
      val recS = Similarity.recallAtK(
        Similarity.pqTopK(Similarity.pqEncode(p, cbS, 4), cbS, queries,
          m = 4, topK = 3), exact)
        .select(col("q_id"), col("recall_milli").as("recall_sampled_milli"))
      val recT = Similarity.recallAtK(
        Similarity.pqTopK(Similarity.pqEncode(p, cbT, 4), cbT, queries,
          m = 4, topK = 3), exact)
        .select(col("q_id"), col("recall_milli").as("recall_trained_milli"))
      recS.join(recT, "q_id").orderBy("q_id")
    }),

    // --- end-to-end curation (quality gate → exact bag-dedup →
    //     verified near-dup removal), all stages oracle-proven ---
    "q_curation" -> ((s, dir) => {
      graft.ext.Curation.curate(docsFanned(s, dir)).orderBy("doc_id")
    }),

    // Token-budget corpus selection (graft.ext.Curation
    // .tokenBudgetSelect): "the best 25k tokens" — greedy by quality
    // class with the cumulative over the BOUNDED score domain (≤ 2001
    // distinct classes in a single-partition window, never corpus
    // rows — the q_ppl_buckets idiom), admit flags broadcast back.
    "q_token_budget" -> ((s, dir) => {
      graft.ext.Curation.tokenBudgetSelect(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")),
        budgetTokens = 25000L)
        .orderBy("doc_id")
    }),

    // Deterministic hash sampling — the reproducible downsample every
    // pipeline needs (same subset on every run/engine, no RNG state):
    // keep docs whose salted h32 lands under the rate; per-language
    // counts audit the stratification. Pure per-row predicate, pushes
    // to the scan.
    "q_hash_sample" -> ((s, dir) => {
      docsWithTokens(s, dir)
        .where(Hashing.h32(concat(lit("smp|"), col("doc_id").cast("string")))
          % 100 < 10)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"),
          min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
        .orderBy("lang")
    }),

    // Fuzzy dedup: one survivor (deterministic min doc_id) per full
    // MinHash signature — near-identical content incl. reorderings
    // collapses; single hash shuffle on the signature.
    "q_dedup_minhash" -> ((s, dir) => {
      val hs = transform(array_distinct(TA.tokens(col("text"))),
        w => Hashing.h32(w))
      // null text has no signature (concat_ws would give '' in Spark but
      // NULL in the oracle, and unrelated null docs would collapse) —
      // exclude it on both sides
      val d = docsWithTokens(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          concat_ws("_", NearDup.minhashSignature(hs, numHashes = 8): _*)
            .as("sig"))
      // hot-key-safe survivor pick: a boilerplate signature shared by
      // 10^8 docs collapses in map-side min_by partials instead of
      // single-partition row_number sorting (Dedup.firstPerKeyAgg)
      graft.ops.Dedup.firstPerKeyAgg(d, Seq(col("sig")), Seq(col("doc_id")))
        .select(col("doc_id"), col("sig"))
        .orderBy("doc_id")
    }),

    // Incremental ingestion dedup — the DAILY operational mode: an
    // incoming batch (docs >= 400 here) dedups against the historical
    // corpus fingerprint set (an anti-join on the content fingerprint;
    // at scale that store is billions of keys — unbroadcastable, which
    // is exactly what Contamination.bloomAntiJoin's bloom-prefilter
    // path exists for), then first-per-key within the batch itself.
    "q_incremental_dedup" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).select(col("doc_id"),
        TA.bagFingerprint(col("text")).as("bag_fp"))
      val existing = d.where(col("doc_id") < 400)
      val incoming = d.where(col("doc_id") >= 400)
      val novel = incoming.join(
        existing.select("bag_fp").distinct(), Seq("bag_fp"), "left_anti")
      graft.ops.Dedup.firstPerKeyAgg(novel, Seq(col("bag_fp")),
        Seq(col("doc_id")))
        .select("doc_id", "bag_fp")
        .orderBy("doc_id")
    }),

    // Temperature mix balancing (α = 1/2): per-language weights
    // ∝ sqrt(n)/Σsqrt(n) flatten the head language — integer-exact
    // cross-engine because IEEE sqrt is correctly rounded. The
    // data-DERIVED companion to q_mix's static weights.
    "q_mix_temperature" -> ((s, dir) => {
      graft.ext.Weighting.temperatureWeights(
        docsWithTokens(s, dir), "lang")
        .orderBy("lang")
    }),

    // Soft dedup: duplication-DISCOUNT weights instead of row deletion —
    // every copy survives carrying weight_milli = floor(1000/copies), so
    // a massively duplicated document contributes one document's worth
    // of training signal. The trade pipelines take when hard dedup would
    // distort the source mix. One combinable count + skew-splittable
    // join-back; all-integer weights.
    "q_soft_dedup" -> ((s, dir) => {
      val b = docsWithTokens(s, dir).select(col("doc_id"),
        TA.bagFingerprint(col("text")).as("bag_fp"))
      graft.ext.Weighting.softDedupWeights(b, Seq("bag_fp"))
        .select(col("doc_id"), col("copies"), col("weight_milli"))
        .orderBy("doc_id")
    }),

    // Per-domain cap: at most K docs per registered domain, chosen in
    // deterministic salted-hash order — the curation staple that stops
    // one prolific host from dominating the corpus. The rank filter
    // plans a WindowGroupLimit (map-side top-k per domain before the
    // shuffle), so a hot domain never single-tasks.
    "q_domain_cap" -> ((s, dir) => {
      val url = concat(lit("https://sub"),
        (col("doc_id") % 5).cast("string"), lit("."), col("source"),
        lit(".example/p/"), col("doc_id").cast("string"))
      graft.ext.UrlAnalysis.capPerDomain(
        docsWithTokens(s, dir).select(col("doc_id"), url.as("url")),
        "url", "doc_id", k = 20)
        .select(col("doc_id"), col("reg_domain"), col("rk"))
        .orderBy("doc_id")
    }),

    // Hashed-feature importance scoring (integer DSIR): rank corpus docs
    // by hashed-unigram similarity to a target subset (docs 0-24 as the
    // "curated domain") relative to the raw corpus — the data-SELECTION
    // step that shifts a training mix toward a domain without a model.
    // All-integer milli-ratios; combinable aggs; bucket join skew-safe.
    "q_dsir" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      graft.ext.Weighting.importanceScores(
        d, "doc_id", TA.tokens(col("text")),
        d.where(col("doc_id") < 25), TA.tokens(col("text")))
        .orderBy("doc_id")
    }),

    // Cross-split leakage audit: after the deterministic train/val/test
    // split, count per TRAIN doc the distinct 5-grams that also occur in
    // any eval split — the check that eval text is not memorizable from
    // train. Eval gram side is corpus-scale, so a shuffle equi-join on
    // the 8-byte gram hash (AQE-splittable), not a broadcast.
    "q_split_leakage" -> ((s, dir) => {
      val sp = graft.ext.Assembly.splitColumn(col("doc_id"), "sp",
        Seq("train" -> 90, "val" -> 95), "test")
      graft.ext.Contamination.splitLeakage(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")), sp,
        "train")
        .orderBy("doc_id")
    }),

    // Two-phase near-dup: MinHash-LSH candidate generation (bounded
    // buckets — degenerate buckets dropped before pairing) + exact
    // Jaccard verification over the distinct-token sets. The composition
    // every fuzzy-dedup pipeline runs; LSH prunes, verify kills the
    // false positives.
    "q_lsh_neardup" -> ((s, dir) => {
      NearDup.lshNearDupPairs(docsWithTokens(s, dir), col("doc_id"),
        TA.distinctTokens(col("text")), bands = 4, rowsPerBand = 2,
        maxBucket = 10, minJaccard = 0.6)
        .orderBy("d1", "d2")
    }),

    // Pairs → clusters: connected components (local contraction, then
    // a driver or min-label finish) over the verified LSH near-dup pair
    // graph. A~B and B~C put
    // {A,B,C} in ONE cluster labeled by its min doc id — the transitive
    // closure pairwise dedup misses. Oracle = recursive CTE.
    "q_neardup_cluster" -> ((s, dir) => {
      val pairs = NearDup.lshNearDupPairs(docsWithTokens(s, dir),
        col("doc_id"), TA.distinctTokens(col("text")), bands = 4,
        rowsPerBand = 2, maxBucket = 10, minJaccard = 0.6)
      Clustering.connectedComponents(pairs).orderBy("doc_id")
    }),

    // Same component labels via the O(log² n) alternating large-star/
    // small-star strategy (the opt-in for adversarial long-diameter
    // graphs) — SAME oracle as q_neardup_cluster, so the strategy's
    // equivalence to min-label is proven by DuckDB hash, not just the
    // random-graph parity spec. A zero driver budget forces the
    // distributed star loop: this graph would otherwise finish on the
    // driver and the oracle would never see the strategy.
    "q_cluster_star" -> ((s, dir) => {
      val pairs = NearDup.lshNearDupPairs(docsWithTokens(s, dir),
        col("doc_id"), TA.distinctTokens(col("text")), bands = 4,
        rowsPerBand = 2, maxBucket = 10, minJaccard = 0.6)
      Clustering.connectedComponents(pairs, driverFinishEdges = 0,
        strategy = Clustering.CcStrategy.AlternatingStar).orderBy("doc_id")
    }),

    // Cluster-size histogram — the dedup analytics readout (how much
    // of the corpus sits in how-big duplicate groups): component sizes
    // from the SAME pair graph, then a second combinable agg over
    // sizes. Covers only docs IN the pair graph (singletons are the
    // complement and carry no dedup cost). Two grouped aggs, both
    // combinable — no per-cluster window anywhere.
    "q_cluster_stats" -> ((s, dir) => {
      val pairs = NearDup.lshNearDupPairs(docsWithTokens(s, dir),
        col("doc_id"), TA.distinctTokens(col("text")), bands = 4,
        rowsPerBand = 2, maxBucket = 10, minJaccard = 0.6)
      Clustering.connectedComponents(pairs)
        .groupBy("cluster_id").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"),
          (count(lit(1)) * col("sz")).as("n_docs"))
        .orderBy("sz")
    }),

    // MinHash estimator quality audit — prices "are 8 hashes enough":
    // for every verified near-dup pair, the signature-agreement
    // estimate (matches × 1000/8) beside the exact Jaccard in milli.
    // Pairs come bounded from LSH (never all-pairs); signatures join
    // back per side on the doc key.
    "q_minhash_est" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val tks = TA.distinctTokens(col("text"))
      val hs = transform(tks, w => Hashing.h32(w))
      val sig = d.select(col("doc_id") +:
        NearDup.minhashSignature(hs, numHashes = 8): _*)
      val s1 = sig.toDF("d1" +: (0 until 8).map(i => s"a$i"): _*)
      val s2 = sig.toDF("d2" +: (0 until 8).map(i => s"b$i"): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      NearDup.lshNearDupPairs(d, col("doc_id"), tks, bands = 4,
        rowsPerBand = 2, maxBucket = 10, minJaccard = 0.6)
        .select("d1", "d2", "inter_size", "union_size")
        .join(s1, "d1").join(s2, "d2")
        .withColumn("est_milli", matches * lit(125L))
        .withColumn("exact_milli", expr("inter_size * 1000 div union_size"))
        .withColumn("abs_err_milli",
          abs(col("est_milli") - col("exact_milli")))
        .select("d1", "d2", "est_milli", "exact_milli", "abs_err_milli")
        .orderBy("d1", "d2")
    }),

    // Fuzzy dedup, completed: drop every non-minimum member of each
    // near-dup component; docs outside the duplicate graph survive
    // untouched (left_anti against the loser set — the corpus never
    // joins against itself).
    "q_cluster_dedup" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val pairs = NearDup.lshNearDupPairs(d, col("doc_id"),
        TA.distinctTokens(col("text")), bands = 4, rowsPerBand = 2,
        maxBucket = 10, minJaccard = 0.6)
      Clustering.clusterDedup(
        d.select(col("doc_id"), col("lang"), col("n_chars")),
        pairs, "doc_id")
        .orderBy("doc_id")
    }),

    // Cluster-aware split: split keys are CONNECTED-COMPONENT labels,
    // not doc ids, so a whole near-dup cluster lands in one split —
    // the fix for what q_split_leakage measures (row-hash splits leave
    // near-verbatim eval text in train). Docs outside the duplicate
    // graph are their own singleton cluster.
    "q_cluster_split" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val pairs = NearDup.lshNearDupPairs(d, col("doc_id"),
        TA.distinctTokens(col("text")), bands = 4, rowsPerBand = 2,
        maxBucket = 10, minJaccard = 0.6)
      val cc = Clustering.connectedComponents(pairs)
      d.select(col("doc_id"))
        .join(cc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
        .withColumn("split", graft.ext.Assembly.splitColumn(
          col("cluster_id"), "sp", Seq("train" -> 90, "val" -> 95), "test"))
        .orderBy("doc_id")
    }),

    // Deterministic train/val/test split: h32 percentile cuts 90/95 —
    // the same doc lands in the same split on every run/engine. Pure
    // per-row; at scale the column drives partitionBy("split") writes.
    "q_split" -> ((s, dir) => {
      docsWithTokens(s, dir)
        .select(col("doc_id"), col("lang"),
          graft.ext.Assembly.splitColumn(col("doc_id"), "sp",
            Seq("train" -> 90, "val" -> 95), "test").as("split"))
        .orderBy("doc_id")
    }),

    // Source-weighted mix assembly: per-source milli-weights (2.5x /
    // 0.5x / 1x by source index mod 3) expand to whole replicas plus a
    // deterministic hash-fraction replica — the upsample/downsample
    // step that assembles a training mix. One generator, no shuffle.
    "q_mix" -> ((s, dir) => {
      val idx = regexp_extract(col("source"), "src([0-9]+)", 1).cast("int")
      val wm = when(idx % 3 === 0, 2500L)
        .when(idx % 3 === 1, 500L)
        .otherwise(1000L)
      graft.ext.Assembly.weightedReplicas(
        docsWithTokens(s, dir).select(col("doc_id"), col("source"), wm.as("wm")),
        "doc_id", col("wm"))
        .select(col("doc_id"), col("source"), col("replica"))
        .orderBy("doc_id", "replica")
    }),

    // Text normalization: deterministic noise (leading/trailing spaces,
    // uppercase, a tab) injected identically on both engines, then the
    // canonical lowercase/control-strip/space-collapse/trim pass; md5
    // pins exact output.
    "q_normalize" -> ((s, dir) => {
      val noisy = concat(lit("  "), upper(col("text")), lit("\t"),
        lit("END  "))
      docsWithTokens(s, dir)
        .select(col("doc_id"), TA.normalizeText(noisy).as("norm"))
        .select(col("doc_id"), md5(col("norm")).as("norm_md5"),
          length(col("norm")).cast("long").as("n_chars_norm"))
        .orderBy("doc_id")
    }),

    // Per-document top-3 terms by all-integer tf-idf ordering (tf DESC,
    // corpus df ASC, token ASC) — same signal as tf*log(N/df) without
    // cross-engine float risk. df rides the tf rows as a window over
    // token (one exchange), then one per-doc rank window.
    "q_topterms" -> ((s, dir) => {
      graft.ext.Assembly.topTerms(docsFanned(s, dir), "doc_id",
        TA.tokens(col("text")), k = 3)
        .orderBy("doc_id", "rk")
    }),

    // Semantic dedup (SemDeDup): nearest-centroid cells (sampled
    // centroids, the IVF idiom) confine the pairwise cosine check; any
    // vector with cosine >= 0.35 to a lower-id cell-mate drops
    // (synthetic embeddings are near-orthogonal — max within-cell cosine
    // ~0.49 — so the production-typical 0.9 would never fire here). The gap
    // token-based dedup can't close: near-identical MEANING, zero
    // token overlap.
    "q_semdedup" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      Similarity.semDedup(p, p.where(col("vec_id") < 8), minCos = 0.35,
        maxCell = 400)
        .orderBy("vec_id")
    }),

    // SemDeDup's blind-spot AUDIT, oracle-proven: how many cells blew
    // the pairwise cap and how many vectors inside them survived
    // UNEXAMINED (maxCell=50 so the synthetic cells actually cap). A
    // production run alerts on this number instead of trusting docs.
    "q_semdedup_audit" -> ((s, dir) => {
      val p = Similarity.prepared(table(s, dir, "embeddings"), "vec_id",
        "embedding")
      Similarity.semDedupAudited(p, p.where(col("vec_id") < 8),
        minCos = 0.35, maxCell = 50)._2
    }),

    // Corpus-wide paragraph dedup (the C4/Lee-et-al line-dedup step):
    // documents are segmented into deterministic 12-token paragraphs
    // (identically in the oracle), every paragraph seen earlier at
    // (doc_id, pos) order is removed, documents reassembled. clean_md5
    // pins the exact surviving text.
    "q_para_dedup" -> ((s, dir) => {
      val W = 12
      val seg = docsFanned(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("tks"))
        .select(col("doc_id"),
          when(size(col("tks")) > 0,
            transform(sequence(lit(1), ((size(col("tks")) + W - 1)
              .cast("long") / W).cast("int")),
              i => concat_ws(" ", slice(col("tks"), (i - 1) * W + 1, lit(W)))))
            .otherwise(array().cast("array<string>")).as("paras"))
      graft.ext.Paragraphs.dedupParagraphs(seg, "doc_id", col("paras"),
        delim = " ")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // The composed ASSEMBLY pipeline under ONE oracle: Gopher gate →
    // corpus-wide paragraph dedup over the gated subset → deterministic
    // split assignment. Every stage is individually oracled elsewhere;
    // this query proves the composition (stage boundaries, schema
    // threading, filter-before-dedup ordering) end to end.
    "q_assembly" -> ((s, dir) => {
      val W = 12
      val gated = docsFanned(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("tks"))
        .where(TA.gopherGate(col("tks"), minTokens = 20L,
          maxTokens = 500L).getField("kept"))
      val seg = gated.select(col("doc_id"),
        when(size(col("tks")) > 0,
          transform(sequence(lit(1), ((size(col("tks")) + W - 1)
            .cast("long") / W).cast("int")),
            i => concat_ws(" ", slice(col("tks"), (i - 1) * W + 1, lit(W)))))
          .otherwise(array().cast("array<string>")).as("paras"))
      graft.ext.Paragraphs.dedupParagraphs(seg, "doc_id", col("paras"),
        delim = " ")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .withColumn("split", graft.ext.Assembly.splitColumn(col("doc_id"),
          "sp", Seq("train" -> 90, "val" -> 95), "test"))
        .orderBy("doc_id")
    }),

    // Content-defined chunk dedup: CDC boundaries (h32 % 16 == 0 closes
    // a chunk) feed the SAME paragraph-dedup machinery — unlike fixed
    // 12-token windows, an early edit only disturbs chunks up to the
    // next boundary, so repeated passages still collapse. Built
    // RELATIONALLY (hash-after-explode, the Contamination lesson): the
    // per-token md5 runs codegen'd in a Project, the chunk id is a
    // doc-bounded running boundary count, and the paragraph text is
    // produced exactly once — the array-HOF form (interpreted h32 in a
    // lambda, triple-evaluated around the Generate) measured 10x
    // slower at sf0.1.
    "q_cdc_dedup" -> ((s, dir) => {
      val toks = docsWithTokens(s, dir)
        .select(col("doc_id"),
          posexplode_outer(TA.tokens(col("text"))).as(Seq("tpos", "tok")))
      val flagged = toks.withColumn("b",
        when(col("tok").isNotNull &&
          Hashing.h32(col("tok")) % 16 === 0, 1L).otherwise(0L))
      // chunk id = boundaries strictly before this token (doc-bounded
      // window: group size = document length, never corpus-scale)
      val w = Window.partitionBy("doc_id").orderBy("tpos")
        .rowsBetween(Window.unboundedPreceding, -1)
      val parRows = flagged.where(col("tok").isNotNull)
        .withColumn("pos", coalesce(sum(col("b")).over(w), lit(0L))
          .cast("int"))
        .groupBy(col("doc_id"), col("pos"))
        .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("tpos"), col("tok")))),
          s => s.getField("tok"))).as("para"))
      // n_chunks = boundaries + 1, unless the LAST token is a boundary
      val counts = flagged.groupBy(col("doc_id"))
        .agg(count(col("tok")).as("_nt"), sum(col("b")).as("_nb"),
          // last boundary flag over the NULL-FILTERED rows (max_by skips
          // null ordering keys) — the same row set the chunk build uses;
          // taking it over all exploded rows would overcount n_paras by 1
          // if a token array ever ended with nulls after a boundary token
          max_by(col("b"), when(col("tok").isNotNull, col("tpos")))
            .as("_lastb"))
        .select(col("doc_id"),
          when(col("_nt") === 0, 0L)
            .otherwise(col("_nb") + lit(1L) - col("_lastb"))
            .as("n_paras"))
      graft.ext.Paragraphs.dedupParagraphRows(parRows, counts, "doc_id",
        delim = " ")
        .select(col("doc_id"), col("n_paras"), col("n_kept"),
          md5(col("clean_text")).as("clean_md5"))
        .orderBy("doc_id")
    }),

    // Gopher rule gate: hard per-rule boolean verdicts (token count,
    // mean word length, duplicate-bigram fraction, top-token share,
    // stopword presence) — every threshold an exact integer
    // cross-multiplication, so verdicts are bit-identical across
    // engines. Pure per-row; no shuffle.
    "q_gopher_gate" -> ((s, dir) => {
      docsFanned(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("tks"))
        .select(col("doc_id"), TA.gopherGate(col("tks"),
          minTokens = 20L, maxTokens = 500L).as("g"))
        .select(col("doc_id"), col("g.r_len").as("r_len"),
          col("g.r_word_len").as("r_word_len"),
          col("g.r_dup_bigram").as("r_dup_bigram"),
          col("g.r_top_share").as("r_top_share"),
          col("g.r_stopword").as("r_stopword"), col("g.kept").as("kept"))
        .orderBy("doc_id")
    }),

    // One-pass corpus report card: the per-language health metrics every
    // curation run reads first (volume, null damage, token mass, gate
    // pass rate) in a SINGLE combinable aggregation — one shuffle for
    // the whole report, however many metrics ride it.
    "q_corpus_report" -> ((s, dir) => {
      docsWithTokens(s, dir)
        .select(col("lang"), col("text"), col("n_chars"),
          TA.tokens(col("text")).as("tks"))
        .withColumn("kept",
          TA.gopherGate(col("tks"), minTokens = 20L, maxTokens = 500L)
            .getField("kept"))
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          count(when(col("text").isNull, 1)).as("n_null_text"),
          sum(when(col("tks").isNotNull, size(col("tks"))).otherwise(0))
            .cast("long").as("n_tokens"),
          coalesce(sum(col("n_chars")), lit(0L)).cast("long").as("sum_chars"),
          count(when(col("kept"), 1)).as("n_gopher_pass"))
        .orderBy("lang")
    }),

    // URL canonicalization + canonical-key dedup: deterministic messy
    // URLs (tracking params, shuffled param order, default ports,
    // fragments, mixed-case hosts) collapse to one canonical form;
    // is_canon marks the (min doc_id) survivor per canonical key.
    "q_url_canon" -> ((s, dir) => {
      // docs 2k and 2k+1 are ONE logical URL wearing crawl noise:
      // tracking params, shuffled param order, explicit default port,
      // fragment, mixed-case host. doc_id % 7 == 0 rows take a distinct
      // http+:80+no-query shape so both scheme/port strip paths execute.
      val grp = (col("doc_id") / 2).cast("long").cast("string")
      val u = when(col("doc_id") % 7 === 0,
          concat(lit("http://Mixed.Case.test:80/p/"), grp, lit("#x")))
        .when(col("doc_id") % 2 === 0,
          concat(lit("https://WWW.example.test:443/a/b?z=1&g="), grp,
            lit("&a=2&utm_source=f")))
        .otherwise(
          concat(lit("https://www.example.test/a/b?a=2&gclid=x&g="), grp,
            lit("&z=1")))
      // survivor flag via combinable min + join-back, not a row_number
      // window: a viral URL duplicated corpus-wide is a hot canonical
      // key, and min(doc_id) collapses it in map-side partials
      val withCanon = docsWithTokens(s, dir)
        .select(col("doc_id"), u.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ext.UrlAnalysis.canonicalUrl(col("url")).as("canon"))
      val canonMin = withCanon.groupBy("canon")
        .agg(min(col("doc_id")).as("_cmin"))
      withCanon.join(canonMin, "canon")
        .select(col("doc_id"), col("canon"),
          (col("doc_id") === col("_cmin")).as("is_canon"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition quality signals: duplicate-bigram fraction
    // and top-token share — pure per-row HOFs, no shuffle. The token
    // array is STAGED once and consumed as an attribute reference by all
    // five uses (split would otherwise be re-inlined into each).
    "q_repetition" -> ((s, dir) => {
      docsFanned(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("tks"))
        .select(
          col("doc_id"),
          size(col("tks")).cast("long").as("n_tokens"),
          TA.dupBigramRatioFromTokens(col("tks")).as("dup_bigram_ratio"),
          TA.topTokenShareFromTokens(col("tks")).as("top_token_share"))
        .orderBy("doc_id")
    }),

    // Typed-Aggregator MinHash over ROW-shaped tokens (exploded corpus) —
    // same universal-hash family as the per-row HOF signature path in
    // q_minhash_lsh, so the oracle is the same mix formula. The udaf is
    // map-side combinable (constant K-long buffer, elementwise-min merge),
    // so the shuffle carries one 8-long buffer per (partition, doc), not
    // the token stream.
    "q_minhash_agg" -> ((s, dir) => {
      val mh = udaf(new graft.ext.MinHashAgg(8), Encoders.scalaLong)
      // null text would be DROPPED by the explode here but emitted with
      // NULL mh columns by the oracle's list_transform — exclude it on
      // both sides (same guard as q_dedup_minhash)
      val hashed = docsWithTokens(s, dir).where(col("text").isNotNull)
        .select(col("doc_id"),
          explode(array_distinct(TA.tokens(col("text")))).as("w"))
        .select(col("doc_id"), Hashing.h32(col("w")).as("h"))
      hashed.groupBy("doc_id").agg(mh(col("h")).as("sig"))
        .select(col("doc_id") +:
          (0 until 8).map(i => element_at(col("sig"), i + 1).as(s"mh$i")): _*)
        .orderBy("doc_id")
    }),

    // PII scrubbing end-to-end: the fixture carries no natural PII, so a
    // deterministic email/phone/IP is injected per row (identically in
    // the oracle) — the md5 of the redacted text pins exact span
    // replacement, the counts pin detection.
    "q_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com tel +1-555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" ip 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"))
      docsFanned(s, dir)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          Scrub.emailCount(col("aug")).as("n_emails"),
          Scrub.phoneCount(col("aug")).as("n_phones"),
          Scrub.ipv4Count(col("aug")).as("n_ips"),
          md5(Scrub.redact(col("aug"))).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // C4-style blocklist gate (graft.ext.Toxicity): committed lexicon
    // (tools/blocklist.txt) compiled into ONE whole-word alternation
    // regex; per-doc hit/term counts + drop verdict, all derived from a
    // single staged regexp_extract_all pass. Blocklisted boilerplate is
    // injected into 30% of docs on BOTH engines (fixture text is clean
    // by construction — q_redact's PII trick): one flagged footer
    // shared by a third of the corpus is exactly the hot shape a real
    // spam template produces.
    "q_toxicity_gate" -> ((s, dir) => {
      Toxicity.gate(
        docsWithTokens(s, dir)
          .select(col("doc_id"), col("source"), toxAug.as("text")),
        "text", Toxicity.DefaultTerms)
        .orderBy("doc_id")
    }),

    // JSONL.gz interchange round-trip through the graft.sources.Jsonl
    // source over a COMMITTED fixture (tools/jsonl_corpus — 2 gzip
    // shards, one deliberately corrupt line): explicit caller schema
    // (no inference pass), permissive quarantine, and the surviving
    // frame hash-checked against DuckDB's independent read_json of the
    // same bytes. The corrupt line must cost one quarantined row on
    // both engines, never the shard.
    "q_jsonl_roundtrip" -> ((s, dir) => {
      graft.sources.Jsonl.read(s, jsonlCorpusDir,
          org.apache.spark.sql.types.StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING"))
        .where(col(graft.sources.Jsonl.CorruptCol).isNull)
        .select("doc_id", "text", "lang")
        .orderBy("doc_id")
    }),

    // Arc90/Boilerpipe-style HTML boilerplate strip
    // (graft.ext.Boilerplate): synthetic HTML wrapped around fixture
    // text on BOTH engines (nav chrome, a 25% ad block, a link-dense
    // footer — WAT never carries raw HTML, so the corpus is built
    // deterministically like q_redact's PII), then block segmentation +
    // integer link-density scoring recovers the body text and prices
    // the boilerplate share.
    "q_boilerplate" -> ((s, dir) => {
      graft.ext.Boilerplate.extractMainContent(
        docsWithTokens(s, dir).select(col("doc_id"), bpHtml.as("html")),
        "doc_id", "html")
        .orderBy("doc_id")
    }),

    // Raw-crawl text pipeline end-to-end: the documents table framed as
    // real WARC response pages (WatFixture.ensureDocWarcs — the same
    // q_boilerplate HTML scaffold inside real HTTP bodies at
    // closed-form urls) → DSv2 `warc` scan → boilerplate strip. The
    // oracle rebuilds the identical pages from the documents table in
    // SQL, so the WHOLE path — WARC framing, HTTP split, HTML
    // transport, block scoring — is hash-pinned with no committed dump.
    "q_warc_boilerplate" -> ((s, dir) => {
      val warcs = graft.wat.WatFixture.ensureDocWarcs(s, dir)
      val pages = s.read.format("warc").load(warcs: _*)
        .select(col("page_url"), col("html"))
      graft.ext.Boilerplate.extractMainContent(pages, "page_url", "html")
        .orderBy("page_url")
    }),

    // The big-lexicon switch-over path: exploded tokens × broadcast
    // term table instead of the alternation regex — O(1) probe per
    // token at any lexicon size. Same fixture, token-equality
    // semantics (== the regex form on whitespace-clean text,
    // equivalence spec-pinned); its own oracle via unnest + IN.
    "q_toxicity_relational" -> ((s, dir) => {
      Toxicity.gateRelational(
        docsWithTokens(s, dir)
          .select(col("doc_id"), col("source"), toxAug.as("text")),
        "doc_id", "text", Toxicity.DefaultTerms)
        .orderBy("doc_id")
    }),

    // The WHOLE C4-style curation chain composed under ONE oracle:
    // toxic-injected text → synthetic HTML → boilerplate strip →
    // blocklist gate on the recovered body → Gopher quality gate →
    // exact content dedup (min-doc_id survivor via combinable
    // min-struct, the hot-key-safe idiom). Every stage is individually
    // oracled elsewhere; this pins that the COMPOSITION agrees
    // end-to-end — the form a production run actually executes.
    "q_c4_pipeline" -> ((s, dir) => {
      val base = docsFanned(s, dir)
        .select(col("doc_id"), col("source"), toxAug.as("text"))
      val html = base.select(col("doc_id"), bpHtml.as("html"))
      val stripped = graft.ext.Boilerplate
        .extractMainContent(html, "doc_id", "html")
        .select(col("doc_id"), col("clean_text"))
      val detoxed = stripped.where(
        size(Toxicity.matches(col("clean_text"), Toxicity.DefaultTerms))
          === 0)
      val quality = detoxed.where(
        TA.gopherGate(TA.tokens(col("clean_text")), minTokens = 20L,
          maxTokens = 500L).getField("kept"))
      val withFp = quality.join(base.select("doc_id", "source"), "doc_id")
        .select(col("doc_id"), col("source"),
          md5(col("clean_text")).as("fp"),
          size(TA.tokens(col("clean_text"))).cast("long").as("n_tokens"))
      withFp.groupBy("fp")
        .agg(min(struct(col("doc_id"), col("source"), col("n_tokens")))
          .as("s"))
        .select(col("s.doc_id").as("doc_id"), col("s.source").as("source"),
          col("fp"), col("s.n_tokens").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // The streaming curation gate facing the SAME DuckDB oracle as the
    // batch chain: the fixture corpus (toxic-injected text wrapped in
    // the synthetic HTML) is staged to parquet, read back as a FILE
    // STREAM in 4 forced micro-batches (maxFilesPerTrigger=1,
    // Trigger.AvailableNow), gated by the stateless
    // StreamOps.curationGateStream (per-row strip + blocklist — no
    // state, no watermark), sunk to parquet, and the sink is what the
    // oracle hashes. Pins stream==batch for the curation front half:
    // the one path CORRECTNESS never covered (it was spec-only in r10).
    "q_curation_stream" -> ((s, dir) => {
      import org.apache.spark.sql.streaming.Trigger
      // fixed process-scoped scratch, wiped at entry (the StreamQueries
      // contract): a fresh temp dir per invocation leaked a staged
      // corpus + checkpoint per battery pass, while reusing a live
      // checkpoint with rewritten input would RESUME instead of re-run.
      // Staged INPUT reuse mirrors StreamQueries.stagedFor: the corpus
      // is a pure function of dir, so later passes wipe only ckpt/out.
      val tmp = QueryUtil.scratchPath("stream/cur")
      val root = java.nio.file.Paths.get(tmp)
      val reuse = curationStagedFor.get().contains(dir) &&
        java.nio.file.Files.exists(root.resolve("in"))
      def wipeDir(p: java.nio.file.Path): Unit =
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          // Using closes the walk stream deterministically — unclosed it
          // holds a directory handle until GC, leaking across battery passes
          scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
            st.iterator().asScala.toSeq.reverse
              .foreach(java.nio.file.Files.delete)
          }
        }
      if (reuse) { wipeDir(root.resolve("ckpt")); wipeDir(root.resolve("out")) }
      else wipeDir(root)
      java.nio.file.Files.createDirectories(root)
      if (!reuse) {
        docsWithTokens(s, dir)
          .select(col("doc_id"), toxAug.as("text"))
          .select(col("doc_id"), bpHtml.as("html"))
          // 2 input files -> 2 micro-batches under maxFilesPerTrigger=1:
          // the gate must be correct ACROSS batch boundaries, not just on
          // one big batch (stateless, so trivially so — but measured, not
          // assumed). 2 is the minimum batch count that still crosses a
          // boundary; the r21 shape used 4, and each extra AvailableNow
          // micro-batch costs a full planning + WAL + sink-commit cycle
          // (profiled ~350-400 ms) while proving nothing the second
          // batch doesn't already prove.
          .repartition(2)
          .write.mode("overwrite").parquet(s"$tmp/in")
        curationStagedFor.set(Some(dir))
      }
      val stream = s.readStream
        .schema("doc_id LONG, html STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$tmp/in")
      val q = graft.streaming.StreamOps
        .curationGateStream(stream, "html", Toxicity.DefaultTerms)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(Trigger.AvailableNow())
        .format("parquet").option("path", s"$tmp/out")
        .start()
      q.awaitTermination()
      s.read.parquet(s"$tmp/out").orderBy("doc_id")
    }),

    // Per-source toxicity rollup: the curation dashboard view — which
    // sources are spam farms. Combinable agg over the gate frame;
    // flagged rate in exact integer milli.
    "q_toxicity_sources" -> ((s, dir) => {
      Toxicity.sourceRollup(
        Toxicity.gate(
          docsWithTokens(s, dir)
            .select(col("doc_id"), col("source"), toxAug.as("text")),
          "text", Toxicity.DefaultTerms),
        "source")
        .orderBy("source")
    }),

    // Lee-et-al-style exact duplication signal: per document, the share
    // of its distinct hashed 5-grams that occur in any OTHER document.
    // One explode + one gram-frequency agg + one 8-byte-key join back.
    "q_dup_ngrams" -> ((s, dir) => {
      Contamination.duplicatedNgramShare(docsWithTokens(s, dir), "doc_id",
        TA.tokens(col("text")), n = 5)
        .orderBy("doc_id")
    }),

    // GPT-3-style benchmark decontamination: corpus docs (id >= 10)
    // sharing any hashed 5-gram with the benchmark set (id < 10); the
    // benchmark gram set is broadcast, the corpus never shuffles
    // pre-aggregation.
    "q_decontam" -> ((s, dir) => {
      val d = docsFanned(s, dir)
      Contamination.decontaminate(
        d.where(col("doc_id") >= 10), d.where(col("doc_id") < 10),
        "doc_id", TA.tokens(col("text")), n = 5)
        .orderBy("doc_id")
    }),

    // Exact-fingerprint decontamination behind a bloom prefilter: drop
    // corpus docs whose md5(text) appears in the benchmark set (id < 10).
    // The bloom settles most rows without any join; the survivors of
    // might_contain get an exact anti-join, so the result is EXACTLY the
    // plain anti-join the oracle runs — bloom quality affects cost only.
    // Null texts are excluded on both sides (NULL poisons NOT IN).
    "q_bloom_decontam" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).where(col("text").isNotNull)
        .withColumn("fp", md5(col("text")))
      Contamination.bloomAntiJoin(
        d.where(col("doc_id") >= 10)
          .select("fp", "doc_id", "lang", "n_chars"),
        d.where(col("doc_id") < 10).select("fp"),
        "fp", estimatedItems = 1000L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // URL/domain analysis over deterministically synthesized URLs (the
    // q_absolutize idiom): host → registered domain → TLD → path depth →
    // blocklist verdict, the domain-level curation signals. The host is
    // STAGED once — registeredDomain/tld re-reference it.
    "q_url_parse" -> ((s, dir) => {
      val url = when(col("doc_id") % 4 === 0,
          concat(lit("https://img.cdn-ex.test/a/b/"),
            col("doc_id").cast("string"), lit(".jpg")))
        .when(col("doc_id") % 4 === 1,
          concat(lit("http://ex.test/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 4 === 2,
          concat(lit("https://deep.sub.spam-site.test/x/y/z/w?q="),
            col("doc_id").cast("string")))
        .otherwise(concat(lit("https://localhost/"),
          col("doc_id").cast("string"), lit("/")))
      docsWithTokens(s, dir)
        .select(col("doc_id"), url.as("url"))
        .select(col("doc_id"), col("url"),
          graft.ext.UrlAnalysis.host(col("url")).as("host"))
        .select(col("doc_id"),
          col("host"),
          graft.ext.UrlAnalysis.registeredDomain(col("host")).as("reg_domain"),
          graft.ext.UrlAnalysis.tld(col("host")).as("tld"),
          graft.ext.UrlAnalysis.pathDepth(col("url")).as("path_depth"),
          graft.ext.UrlAnalysis.hasQuery(col("url")).as("has_query"),
          graft.ext.UrlAnalysis.notBlocked(col("host"),
            Seq("spam-site.test")).as("kept"))
        .orderBy("doc_id")
    }),

    // Stratified quota sampling: at most K docs per language, chosen in
    // deterministic salted-hash order (reproducible across runs and
    // engines, no RNG state) — the downsample that balances a
    // multilingual corpus. One window shuffle on lang.
    "q_lang_quota" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy(
        Hashing.h32(concat(lit("q|"), col("doc_id").cast("string"))),
        col("doc_id"))
      docsWithTokens(s, dir)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 40)
        .select(col("doc_id"), col("lang"), col("rk"))
        .orderBy("doc_id")
    }),

    // Document chunking: overlapping 20-token windows at stride 10 —
    // how documents become fixed-context training examples. One staged
    // token array, one posexplode of the start offsets; chunk content
    // pinned by md5. Per-row, no shuffle.
    "q_chunk" -> ((s, dir) => {
      docsWithTokens(s, dir)
        .select(col("doc_id"), TA.tokens(col("text")).as("tks"))
        .select(col("doc_id"), col("tks"),
          posexplode(TA.chunkStarts(col("tks"), stride = 10)))
        .select(col("doc_id"),
          (col("pos") + 1).cast("long").as("chunk_id"),
          col("col").cast("long").as("start"),
          size(slice(col("tks"), col("col"), lit(20))).cast("long")
            .as("chunk_tokens"),
          md5(TA.chunkText(col("tks"), col("col"), 20)).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),

    // Sequence packing: greedy capacity bins of 256 tokens per language
    // in deterministic doc order — short documents share a training
    // sequence, never split across bins. One window shuffle on lang;
    // bin = (running total BEFORE this doc) div capacity.
    // NOTE: the running sum is a single window partition per language —
    // a hot language at corpus scale single-tasks it. q_pack keeps the
    // globally-sequential semantics (bins numbered across the whole
    // language); q_pack_sharded below is the scale path.
    "q_pack" -> ((s, dir) => {
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docsWithTokens(s, dir)
        .select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr("(cum - n_tokens) div 256L"))
        .orderBy("doc_id")
    }),

    // Scale-safe packing: bins are LOCAL to (lang, shard), with the
    // shard a deterministic hash bucket — what a production
    // materialization actually wants (each output shard packs its own
    // sequences; bin ids need not be globally sequential). Window
    // groups shrink by the shard count, which scales with the cluster,
    // so no hot language ever single-tasks.
    "q_pack_sharded" -> ((s, dir) => {
      val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docsWithTokens(s, dir)
        .select(col("doc_id"), col("lang"),
          TA.tokenCount(col("text")).as("n_tokens"))
        .withColumn("shard",
          pmod(Hashing.h32(concat(lit("pk|"), col("doc_id").cast("string"))),
            lit(8L)))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("bin", expr("(cum - n_tokens) div 256L"))
        .orderBy("doc_id")
    }),

    // --- multimodal ---

    // Real ISO-BMFF container parsing (graft.ext.Mp4): each doc becomes
    // a deterministic single-track MP4 (box-for-box valid — dimensions,
    // sample count, keyframe cadence, per-sample sizes and payload fill
    // all closed-form in doc_id), then videoMeta parses the boxes back.
    // kf1_size / kf1_first_byte are read out of the file AT THE WINDOW
    // the sample tables declare, so the oracle proves the stsc/stco/stsz
    // offset math end-to-end, not just the header fields.
    "q_video_meta" -> ((s, dir) =>
      Multimodal.videoMeta(videoMedia(s, dir)).toDF().orderBy("doc_id")),

    // MIXED-layout corpus: even docs progressive (single-moov), odd
    // docs FRAGMENTED (moov/mvex + moof/traf/trun — the streaming-era
    // layout), with id-keyed muxer variety (explicit base_data_offset
    // vs default-base-is-moof, 1 vs 2 truns per fragment, elst on
    // id%5==0). One videoMeta pass serves both layouts; media_time
    // witnesses the edit-list parse.
    "q_video_frag" -> ((s, dir) => {
      import s.implicits._
      Multimodal.videoMeta(Multimodal.syntheticMixedVideoMedia(
        docsFanned(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // Real audio header parsing (graft.ext.Audio): each doc becomes a
    // deterministic audio file — format cycling mp3/wav/flac/ogg by
    // id%4 (MPEG-1 L3 frame walk, RIFF, STREAMINFO bit unpack, OGG
    // page walk with Vorbis/Opus id headers + real page CRCs) — then
    // audioMeta parses the headers back; every field closed-form.
    "q_audio_meta" -> ((s, dir) => {
      import s.implicits._
      Multimodal.audioMeta(Multimodal.syntheticAudioMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // WebM/EBML container parsing (graft.ext.Webm): each doc becomes a
    // deterministic single-video-track WebM (EBML header, Segment with
    // Info/Tracks/Clusters of SimpleBlocks; even ids use the
    // unknown-size streaming Segment), then the SAME videoMeta pass
    // that serves MP4 parses the elements back — brand is the EBML
    // DocType, kf1_* read back at the SimpleBlock-declared windows.
    "q_video_webm" -> ((s, dir) => {
      import s.implicits._
      Multimodal.videoMeta(Multimodal.syntheticWebmMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // AVI/RIFF container parsing (graft.ext.Avi): avih + vids strh +
    // movi chunk walk + idx1 keyframe flags (ids divisible by 7 omit
    // the index -> all-sync rule), served by the SAME videoMeta pass.
    "q_video_avi" -> ((s, dir) => {
      import s.implicits._
      Multimodal.videoMeta(Multimodal.syntheticAviMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // End-to-end shard pipeline: tar shards whose .png members are
    // REAL decoder-valid PNGs -> checksum-validated member explode ->
    // real ImageIO decode + text tokenization -> per-sample join. The
    // img2dataset-output-to-training-sample path in one query.
    "q_wds_pipeline" -> ((s, dir) => {
      import s.implicits._
      Multimodal.wdsSampleTable(Multimodal.webdatasetMembers(
        Multimodal.syntheticPngWebdataset(
          docsFanned(s, dir).where(col("doc_id").isNotNull)
            .select("doc_id").as[java.lang.Long])))
        .orderBy("doc_id", "key")
    }),

    // The SAME shard-to-sample pipeline over ZIP shards: real PNG
    // members (stored) + deflated captions → CRC-verified member
    // explode (webdataset key/ext convention) → real ImageIO decode +
    // tokenize → per-sample join. Container-agnostic by construction:
    // wdsSampleTable is shared verbatim with the tar path.
    "q_zip_pipeline" -> ((s, dir) => {
      import s.implicits._
      Multimodal.wdsSampleTable(graft.ext.Zip.zipWdsMembers(
        Multimodal.syntheticPngZipShards(
          docsFanned(s, dir).where(col("doc_id").isNotNull)
            .select("doc_id").as[java.lang.Long])))
        .orderBy("doc_id", "key")
    }),

    // CAPSTONE composition — clip-text pairs: REAL container-cut frame
    // timelines (sampleFrames over the synthetic MP4 corpus, 40 ms
    // cadence) interval-joined to REAL parsed subtitle cues
    // (Subtitles over SRT/VTT docs) through the bucketed range join
    // (ops.RangeJoin — hash shuffle on time buckets + exact refine,
    // never an inequality nested loop). Per-doc keying rides the
    // standard key-fusion trick: ts' = doc_id*1e6 + ms (cue spans
    // never cross the 1e6 boundary, so bucket matches cannot pair
    // across docs). Output: frames matched per cue.
    "q_clip_text" -> ((s, dir) => {
      import s.implicits._
      val ids = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
        .select("doc_id").as[java.lang.Long]
      val frames = Multimodal.sampleFrames(videoMedia(s, dir), stride = 1)
        .select(col("frame_idx"),
          (col("doc_id") * 1000000L + col("frame_idx") * 40L).as("ts"))
      val cues = graft.ext.Subtitles.subtitleCues(
        graft.ext.Subtitles.syntheticClipSubtitles(ids),
        "doc_id", col("sub_text"))
        .select(col("doc_id").as("c_doc"), col("cue_idx"),
          (col("doc_id") * 1000000L + col("start_ms")).as("lo"),
          (col("doc_id") * 1000000L + col("end_ms")).as("hi"))
      graft.ops.RangeJoin.pointInInterval(frames, "ts", cues,
        "lo", "hi", width = 128)
        .groupBy(col("c_doc").as("doc_id"), col("cue_idx"))
        .agg(count(lit(1)).as("n_frames"),
          min(col("frame_idx")).as("first_frame"),
          max(col("frame_idx")).as("last_frame"))
        .orderBy("doc_id", "cue_idx")
    }),

    // Animated-GIF structure (graft.ext.Gif): header/screen
    // descriptor, GCE delays, NETSCAPE loop, per-frame LZW-data
    // windows — the crawled-animation format the video containers
    // miss; f1_size/f1_first_byte witness the sub-block offset math.
    "q_video_gif" -> ((s, dir) => {
      import s.implicits._
      Multimodal.gifMeta(Multimodal.syntheticGifMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // Subtitle cue timelines (graft.ext.Subtitles): SRT for odd docs,
    // WebVTT for even, one subtitleCues pass — the text half of
    // video-text training pairs, cue-exact.
    "q_subtitles" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Subtitles.subtitleCues(
        graft.ext.Subtitles.syntheticSubtitleDocs(
          docsWithTokens(s, dir).where(col("doc_id").isNotNull)
            .select("doc_id").as[java.lang.Long]),
        "doc_id", col("sub_text"))
        .toDF().orderBy("doc_id", "cue_idx")
    }),

    // JPEG/EXIF metadata without decode (graft.ext.Exif): each doc is
    // a REAL ImageIO-encoded JPEG with a spliced EXIF APP1; the stage
    // reads SOF dims + TIFF IFD orientation/make/model back. Encoder
    // entropy bytes vary; every projected field is spec-determined.
    "q_exif" -> ((s, dir) => {
      import s.implicits._
      Multimodal.exifMeta(Multimodal.syntheticExifJpegMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // WebDataset tar-shard ingest (graft.ext.Tar + webdatasetMembers):
    // each doc becomes a ustar shard of n samples x {img, txt}
    // members (the img2dataset output shape); the walk validates
    // header checksums and cuts exact member windows.
    "q_webdataset" -> ((s, dir) => {
      import s.implicits._
      Multimodal.webdatasetMembers(Multimodal.syntheticWebdatasetMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .select(col("doc_id"), col("key"), col("ext"),
          octet_length(col("bytes")).cast("long").as("byte_len"),
          conv(hex(substring(col("bytes"), 1, 1)), 16, 10).cast("long")
            .as("first_byte"))
        .orderBy("doc_id", "key", "ext")
    }),

    // ZIP shard ingest (graft.ext.Zip): EOCD → central-directory walk,
    // stored + DEFLATE members through a REAL Inflater, CRC32-verified.
    // byte_len/first/last describe the UNCOMPRESSED payload — right
    // answers on deflate members require a working decompressor, and
    // the non-constant fill makes a copied-window shortcut fail.
    "q_zip_archive" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Zip.zipArchiveMembers(graft.ext.Zip.syntheticZipMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .orderBy("doc_id", "name")
    }),

    // Corpus-in-zip-shards round trip: each document's UTF-8 text
    // DEFLATE'd into a one-member shard, inflated + CRC-checked back
    // out — the extracted text must equal the source column exactly.
    "q_zip_text" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Zip.zipTexts(graft.ext.Zip.syntheticZipTextMedia(
        docsWithTokens(s, dir)
          .where(col("doc_id").isNotNull && col("text").isNotNull)
          .select("doc_id", "text").as[(java.lang.Long, String)]))
        .orderBy("doc_id")
    }),

    // HTML → Markdown (graft.ext.HtmlMarkdown): structured-text
    // extraction over a fixture page exercising every rendering rule
    // (skipped head/script/style, comment trap, ws collapse, both list
    // kinds, fenced code, blockquote, link/image/bold/italic/inline-
    // code) — the oracle rebuilds the exact markdown from (id, text).
    "q_html_markdown" -> ((s, dir) => {
      import s.implicits._
      graft.ext.HtmlMarkdown.htmlToMarkdown(
        graft.ext.HtmlMarkdown.syntheticHtmlDocs(
          docsFanned(s, dir)
            .where(col("doc_id").isNotNull && col("text").isNotNull)
            .select("doc_id", "text").as[(java.lang.Long, String)]))
        .orderBy("doc_id")
    }),

    // sitemap.xml parsing (graft.ext.Robots.parseSitemap): urlset
    // members + sitemapindex children, entity-decoded locs (the &amp;
    // in the query string is the decode witness) — the discovery half
    // of crawl politeness.
    "q_sitemap" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Robots.sitemapEntries(graft.ext.Robots.syntheticSitemaps(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .orderBy("doc_id", "loc")
    }),

    // robots.txt politeness gate (graft.ext.Robots, RFC 9309): per-
    // domain robots parsed ONCE on EXECUTORS and joined (broadcast —
    // the small-table path) to the frontier; group selection by
    // most-specific product token, longest-match rules, allow-on-tie,
    // * wildcards + $ anchor, and the governing group's crawl delay
    // surfaced for the politeness scheduler. The fixture's family 5
    // (query string AFTER .pdf) is the $-anchor witness.
    "q_robots_gate" -> ((s, dir) => {
      import s.implicits._
      val (pages, robots) = graft.ext.Robots.syntheticFrontier(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long])
      graft.ext.Robots.gateByDomain(pages, robots, agent = "graftbot",
        maxBroadcastDomains = Long.MaxValue)
        .orderBy("doc_id")
    }),

    // robots-declared sitemap discovery (Robots.sitemapUrls): the
    // Sitemap: directive is group-independent, extracted per domain —
    // the seed list the sitemap fetch stage consumes. The d-domain
    // fixture's kind-0 robots declares TWO sitemaps, kind 2 one,
    // kind 1 none.
    "q_robots_sitemaps" -> ((s, dir) => {
      import s.implicits._
      val (_, robots) = graft.ext.Robots.syntheticFrontier(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long])
      graft.ext.Robots.sitemapsByDomain(robots)
        .orderBy("domain", "sitemap")
    }),

    // RSS/Atom feed parsing (graft.ext.Feeds): the third discovery
    // channel — RSS items (element-text links, pubDate) and Atom
    // entries (href-attribute links, published/updated fallback),
    // namespace-prefixed/CDATA/gzipped per family, one oracle.
    "q_feed_entries" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Feeds.feedEntries(graft.ext.Feeds.syntheticFeeds(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .orderBy("doc_id", "link")
    }),

    // quota-composed scheduler (graft.ext.Politeness.scheduleCapped):
    // the curation quota (at most K fetches per domain, q_domain_cap's
    // policy) decided on the SAME two-phase rank the scheduler uses —
    // slots past K drop before any ETA is planned, so the crawl plan
    // and the admission policy cannot disagree. Both passes skew-safe.
    "q_politeness_capped" -> ((s, dir) => {
      import s.implicits._
      val (pages, robots) = graft.ext.Robots.syntheticFrontier(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long])
      graft.ext.Politeness.scheduleCapped(
        graft.ext.Robots.gateByDomain(pages, robots, agent = "graftbot",
        maxBroadcastDomains = Long.MaxValue)
          .where(col("allowed")),
        domainCol = "domain", orderCol = "doc_id",
        delayCol = "crawl_delay_sec", maxPerDomain = 5L)
        .select("doc_id", "domain", "path", "slot", "eta_sec")
        .orderBy("doc_id")
    }),

    // feed → frontier composition: the THIRD discovery channel (after
    // crawl-index and sitemaps) composed into admission — feed bytes
    // as fetched (gzip odd-thirds, CDATA/entity titles) → entries →
    // host/path split (parse_url, per-row) → executor-parsed robots
    // gate with crawl delay. Same left-join miss path oracled: ids
    // % 4 == 3 have no robots row.
    "q_feed_frontier" -> ((s, dir) => {
      import s.implicits._
      val ids = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
        .select("doc_id").as[java.lang.Long]
      val entries = graft.ext.Feeds.feedEntries(
        graft.ext.Feeds.syntheticFeeds(ids))
      val pages = entries.select(col("doc_id"),
        parse_url(col("link"), lit("HOST")).as("domain"),
        concat(parse_url(col("link"), lit("PATH")),
          coalesce(concat(lit("?"), parse_url(col("link"), lit("QUERY"))),
            lit(""))).as("path"))
      // the feed-robots frame is ONE ROW PER ID (unbounded — it scales
      // with the corpus): pin the domain-keyed EQUI-JOIN (0L), never a
      // broadcast that would grow with the frontier; the bounded
      // 50-domain syntheticFrontier queries keep the broadcast pin
      graft.ext.Robots.gateByDomain(pages,
        graft.ext.Robots.syntheticFeedRobots(ids), agent = "graftbot",
        maxBroadcastDomains = 0L)
        .orderBy("doc_id", "path")
    }),

    // politeness SCHEDULER — the crawl-delay consumer: admitted
    // frontier rows get a per-domain fetch slot and an ETA = slot ×
    // the domain's Crawl-delay (1 s default when robots stated none).
    // The rank is computed TWO-PHASE (graft.ext.Politeness.schedule:
    // range-bucketed window + cumulative base offsets off a shared
    // exchange) so a hot domain never funnels into one task — the
    // naive per-domain window was the r17 verdict's weak component.
    // Pairs with q_domain_cap's quota op: cap decides HOW MANY pages
    // per domain, this decides WHEN.
    "q_politeness_schedule" -> ((s, dir) => {
      import s.implicits._
      val (pages, robots) = graft.ext.Robots.syntheticFrontier(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long])
      graft.ext.Politeness.schedule(
        graft.ext.Robots.gateByDomain(pages, robots, agent = "graftbot",
        maxBroadcastDomains = Long.MaxValue)
          .where(col("allowed")),
        domainCol = "domain", orderCol = "doc_id",
        delayCol = "crawl_delay_sec")
        .select("doc_id", "domain", "path", "slot", "eta_sec")
        .orderBy("doc_id")
    }),

    // discovery → admission in ONE flow: sitemap bytes as fetched
    // (gzipped for odd ids, namespaced/CDATA for ids % 4 == 0) →
    // entries → host/path split (parse_url, per-row) → executor-
    // parsed robots gate with crawl delay. The left-join miss path is
    // oracled too: ids % 4 == 3 have no robots row.
    "q_frontier_pipeline" -> ((s, dir) => {
      import s.implicits._
      val ids = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
        .select("doc_id").as[java.lang.Long]
      val entries = graft.ext.Robots.sitemapEntriesRaw(
        graft.ext.Robots.syntheticFrontierSitemaps(ids))
      val pages = entries.where(col("kind") === "url")
        .select(col("doc_id"),
          parse_url(col("loc"), lit("HOST")).as("domain"),
          concat(parse_url(col("loc"), lit("PATH")),
            coalesce(concat(lit("?"), parse_url(col("loc"), lit("QUERY"))),
              lit(""))).as("path"))
      val robots = graft.ext.Robots.syntheticFrontierRobots(ids)
      // per-id robots frame (unbounded like the corpus): equi-join pin,
      // not a broadcast that scales with the frontier
      graft.ext.Robots.gateByDomain(pages, robots, agent = "graftbot",
        maxBroadcastDomains = 0L)
        .orderBy("doc_id", "path")
    }),

    // Charset detection + transcode (graft.ext.Charsets): the WHATWG
    // sniff order (BOM > transport charset= > meta prescan > UTF-8
    // validation > windows-1252 fallback) over a SIXTEEN-way encoded
    // corpus spanning the CJK long tail (Shift_JIS/EUC-JP/GBK/Big5/
    // UHC under their legacy WHATWG labels) plus the single-byte tail
    // (8859-2, Thai 874, Greek 1253, Hebrew 8859-8 via the
    // logical-order 8859-8-i label, Arabic 1256, Baltic 1257) — each
    // non-ASCII marker must survive its path exactly, which a blind
    // UTF-8 decode cannot do (it would U+FFFD families 1/2/3/5-15).
    "q_charset_decode" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Charsets.decodeFrame(
        graft.ext.Charsets.syntheticEncodedDocs(
          docsWithTokens(s, dir)
            .where(col("doc_id").isNotNull && col("text").isNotNull)
            .select("doc_id", "text").as[(java.lang.Long, String)]))
        .orderBy("doc_id")
    }),

    // Cross-format triage (Multimodal.describeAny): the FIRST operator
    // a mixed crawled-blob corpus runs — sniff the container magic,
    // route to the right parser, emit one TOTAL row per blob (format,
    // dims, natural unit count; hostile payloads verdict "unknown",
    // never a dropped row or a dead task). Thirteen-way mixed fixture,
    // all real muxer twins (incl. APNG-framed png, the three webp
    // layouts, and multi-page packbits tiff).
    "q_media_triage" -> ((s, dir) => {
      import s.implicits._
      Multimodal.mediaTriage(Multimodal.syntheticMixedCorpus(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_units"))
        .orderBy("doc_id")
    }),

    // Byte-level image probe (graft.ext.Png / WebP / Avif / Tiff):
    // IHDR dims + APNG acTL frames with per-chunk CRC32 verification;
    // WebP dims from whichever bitstream leads (VP8 keyframe tag /
    // VP8L packed / VP8X canvas) + ANMF animation frames; AVIF/HEIC
    // dims from the largest meta→iprp→ipco ispe (the grid CANVAS) +
    // iinf item count; TIFF dims/compression from IFD0 + page count
    // from the IFD chain — the layout `kind` the triage row cannot
    // carry.
    "q_image_probe" -> ((s, dir) => {
      import s.implicits._
      Multimodal.imageProbe(Multimodal.syntheticImageMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .orderBy("doc_id")
    }),

    // Raw-WARC → markdown corpus: the documents table framed as WARC
    // pages (ensureDocWarcs), read back through the DSv2 warc source,
    // and rendered to markdown — the FineWeb-style extraction shape.
    // The bp scaffold's nav/ad/footer render to closed-form link
    // lines, so the oracle rebuilds the whole page in SQL.
    "q_warc_markdown" -> ((s, dir) => {
      import s.implicits._
      val warcs = graft.wat.WatFixture.ensureDocWarcs(s, dir)
      val pages = s.read.format("warc").load(warcs: _*)
        .select(col("page_url"), col("html")).as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        // no exchange below the sort → a global orderBy would range-
        // sample and run the warc read + markdown render TWICE
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // WARC re-packaging round trip (graft.wat.WarcSink — the OUTPUT
    // side of the archive stack): pages read through the warc source,
    // re-emitted as member-per-record response shards (atomic
    // partition-keyed publish, deterministic bytes), and read BACK
    // through the same source — a filtered sub-corpus leaves the
    // engine in the format the ecosystem consumes, and the written
    // archives remain first-class inputs (indexable + ranged-
    // fetchable, WarcSinkSpec pins that full circle). Oracle = the
    // same closed-form rendering as q_warc_markdown: the round trip
    // must be lossless.
    "q_warc_repack" -> ((s, dir) => {
      import s.implicits._
      val warcs = graft.wat.WatFixture.ensureDocWarcs(s, dir)
      val pages = s.read.format("warc").load(warcs: _*)
        .select("page_url", "html")
      val outDir = new java.io.File(QueryUtil.scratchPath("warc_repack"))
      // wipe: shards from an earlier run's partitioning must not
      // survive as phantom inputs to the read-back
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
      }
      rmr(outDir)
      outDir.mkdirs()
      val manifest = graft.wat.WarcSink.writePages(
        pages.repartition(4), outDir.getAbsolutePath)
      // the manifest is one row per shard — collecting it IS the
      // caller's action that drives the write (the PartMerge pattern)
      val written = manifest.select("path").as[String].collect().sorted
      val back = s.read.format("warc").load(written: _*)
        .select(col("page_url"), col("html")).as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(back)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // Index-driven targeted extraction (graft.wat.CcIndex): the access
    // pattern that supersedes whole-archive scans — filter the
    // cc-index-shaped parquet RELATIONALLY (status/mime/host predicates
    // push into the scan; %11==3 rows are 404s and %13==5 rows non-HTML,
    // both must never be fetched), then ranged-read ONLY the selected
    // gzip members via positioned reads grouped per archive region.
    // Oracle = the q_warc_markdown rendering restricted to the
    // index-selected ids, proving the ranged path returns byte-identical
    // pages to the whole-file scan.
    "q_ccindex_fetch" -> ((s, dir) => {
      import s.implicits._
      val (idxPath, _) = graft.wat.WatFixture.ensureDocCcIndex(s, dir)
      val idx = s.read.parquet(idxPath)
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html" &&
          col("url_host_name") === "docs.test")
      val pages = graft.wat.CcIndex.fetchHtmlPages(idx)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        // the fetch already shuffled (path, offset, length) triples; a
        // global orderBy would range-sample and fetch twice — one
        // single-partition exchange + in-partition sort instead
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // Incremental crawl via the index in the PUBLIC table's layout
    // (crawl=CC-MAIN-YYYY-WW/subset=warc): the previous crawl
    // partition's (url, digest) set anti-joins the current crawl
    // partition, so only NEW urls (ids %5==0, absent from the
    // previous crawl) and CHANGED content (ids %7==0 carry an altered
    // previous digest) are ranged-fetched. The two crawl= predicates
    // STATICALLY prune the scan to exactly the two partitions touched
    // (pinned in CcIndexSpec — on the real 90-crawl table that is the
    // difference between reading 2 months and reading a decade), and
    // the public content_languages column gates the fetch side
    // relationally (eng-bearing rows only, ids %3!=2). 100 TB
    // posture: the anti-join is a url-keyed shuffle equi-join of two
    // narrow index frames (AQE splittable), archive bytes move only
    // for the delta.
    "q_ccindex_delta" -> ((s, dir) => {
      import s.implicits._
      val (pidxPath, _) =
        graft.wat.WatFixture.ensureDocCcIndexPartitioned(s, dir)
      val idx = s.read.parquet(pidxPath)
      val cur = idx
        .where(col("crawl") === "CC-TEST-2024-02" &&
          col("subset") === "warc" &&
          col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html" &&
          col("content_languages").contains("eng"))
      val prev = idx
        .where(col("crawl") === "CC-TEST-2024-01" &&
          col("subset") === "warc" &&
          col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html")
        .select("url", "content_digest")
      val fresh = cur.join(prev, Seq("url", "content_digest"),
        "left_anti")
      val pages = graft.wat.CcIndex.fetchHtmlPages(fresh)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // K-crawl incremental delta (CcIndex.deltaAgainstHistory): the
    // real consumer question is "what's new since the last K crawls I
    // ingested", not "since the last one". Current crawl 2024-04
    // anti-joins the DISTINCT (url, digest) set of the 2024-02/03
    // window (pre-aggregated — a url recrawled in both months joins
    // once, not twice); crawl 2024-01 sits OUTSIDE the window and
    // carries the "new" ids at current digests, so a query that
    // failed to prune to the window would lose them — the isin
    // PartitionFilter is semantically load-bearing (CcIndexSpec pins
    // 3 of 4 partitions scanned). Delta = new urls (%6==1) + changed
    // content (%7==0), fetched through the same eng-language gate.
    "q_ccindex_delta_k" -> ((s, dir) => {
      import s.implicits._
      val (kidxPath, _) =
        graft.wat.WatFixture.ensureDocCcIndexMultiCrawl(s, dir)
      val idx = s.read.parquet(kidxPath)
      val cur = idx
        .where(col("crawl") === "CC-TEST-2024-04" &&
          col("subset") === "warc" &&
          col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html" &&
          col("content_languages").contains("eng"))
      val history = idx
        .where(col("crawl").isin("CC-TEST-2024-02", "CC-TEST-2024-03") &&
          col("subset") === "warc" &&
          col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html")
      val fresh = graft.wat.CcIndex.deltaAgainstHistory(cur, history)
      val pages = graft.wat.CcIndex.fetchHtmlPages(fresh)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // Revisit-record resolution (graft.wat.CcIndex.resolveRevisits):
    // real CC crawls dedup at capture time — crawl-2 captures of ids
    // %9==2 are `revisit` records whose payload lives in CRAWL 1's
    // response member (same content_digest). A fetch of the crawl-2
    // index alone would silently drop them; the resolver keeps
    // response rows and satisfies revisits via a digest-keyed
    // equi-join against the crawl-1 index (narrow frames only — the
    // locator triple of the ORIGINAL capture rides back), then ONE
    // ranged fetch serves both. Oracle = the markdown rendering over
    // responses AND revisit-resolved pages — revisit captures count
    // as present.
    "q_ccindex_revisit" -> ((s, dir) => {
      import s.implicits._
      val (idx1Path, _) = graft.wat.WatFixture.ensureDocCcIndex(s, dir)
      val (idx2Path, _) = graft.wat.WatFixture.ensureDocCcIndex2(s, dir)
      val cur = s.read.parquet(idx2Path)
        .where(col("fetch_status") === 200 &&
          (col("content_mime_type") === "text/html" ||
            col("content_mime_type") === "warc/revisit") &&
          col("url_host_name") === "docs.test")
      val prev = s.read.parquet(idx1Path)
      val pages = graft.wat.CcIndex.fetchHtmlPages(
        graft.wat.CcIndex.resolveRevisits(cur, prev))
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // CDXJ — the TEXT form of the same index (pywb spec; CC publishes
    // cdx-*.gz shards): SURT-sorted lines parsed per-row (line-level
    // error tolerance), filtered relationally, and fed to the SAME
    // ranged fetch — a CDXJ shard set is a cc-index without a SQL
    // engine in front. Oracle identical to q_ccindex_fetch: both
    // index forms must select and fetch the same members.
    "q_cdxj_fetch" -> ((s, dir) => {
      import s.implicits._
      val (cdxjs, _) = graft.wat.WatFixture.ensureDocCdxj(s, dir)
      val idx = graft.wat.Cdxj.indexFrame(s, cdxjs)
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html")
      val pages = graft.wat.CcIndex.fetchHtmlPages(idx)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // LEGACY space-separated CDX (Cdxj.legacyIndexFrame): the
    // pre-CDXJ text form older web archives publish (pywb/OpenWayback
    // CDX-9/11) parsed header-driven into the SAME frame shape and
    // fed to the SAME ranged fetch — pointing the engine at a
    // non-CC archive costs a parser, not a pipeline. Oracle identical
    // to q_cdxj_fetch: both text forms must select and fetch the same
    // members (the equivalence IS the point).
    "q_cdx_legacy" -> ((s, dir) => {
      import s.implicits._
      val (cdxs, _) = graft.wat.WatFixture.ensureDocCdxLegacy(s, dir)
      val idx = graft.wat.Cdxj.legacyIndexFrame(s, cdxs)
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html")
      val pages = graft.wat.CcIndex.fetchHtmlPages(idx)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // Index-driven MULTI-FORMAT extraction (CcIndex.fetchRecords —
    // the raw sibling of the html fetch): the media corpus archived
    // as octet-stream responses, the index filtered relationally
    // (%11==3 404s never fetched), the selected records ranged-read
    // as RAW entity bytes (digest-verified) and fed straight into the
    // 13-family triage dispatch — the whole byte-level stack composed
    // behind the targeted access path. Oracle = the q_media_triage
    // arithmetic restricted to the admitted ids.
    "q_ccindex_media" -> ((s, dir) => {
      import s.implicits._
      val (idxPath, _) = graft.wat.WatFixture.ensureDocMediaCcIndex(s, dir)
      val idx = s.read.parquet(idxPath)
        .where(col("fetch_status") === 200 &&
          col("url_host_name") === "docs.test")
      val media = graft.wat.CcIndex.fetchRecords(idx)
        .select(regexp_extract(col("page_url"), "doc(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
          col("body").as("bytes"))
      Multimodal.mediaTriage(media).toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_units"))
        // the fetch already shuffled locator triples; a global orderBy
        // would range-sample and fetch twice (the established tail)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    }),

    // Mixed-corpus WARC re-packaging (WarcSink.writeRecords — the
    // binary side of the output stack): the media index's survivors
    // ranged-fetched WITH their own HTTP envelopes (status + content
    // type, CcIndex.fetchHttpRecords), re-emitted as warcinfo-led
    // response shards with binary bodies, re-INDEXED from the written
    // records' own envelopes (buildIndexFromRecords — no fixture
    // arithmetic), ranged-fetched back, and triaged. Oracle = the
    // q_ccindex_media arithmetic: the circle index → fetch → re-pack →
    // re-index → fetch → triage must be lossless for all 13 families.
    // No repartition before the sink: the fetch's (archive, region)
    // partitions write directly, so the bytes NEVER shuffle (Rule 13)
    // and the shard count follows the region split like a real run.
    "q_warc_repack_media" -> ((s, dir) => {
      import s.implicits._
      val (idxPath, _) = graft.wat.WatFixture.ensureDocMediaCcIndex(s, dir)
      val idx = s.read.parquet(idxPath)
        .where(col("fetch_status") === 200 &&
          col("url_host_name") === "docs.test")
      val recs = graft.wat.CcIndex.fetchHttpRecords(idx)
      val outDir = new java.io.File(
        QueryUtil.scratchPath("warc_repack_media"))
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
      }
      rmr(outDir)
      outDir.mkdirs()
      val manifest = graft.wat.WarcSink.writeRecords(
        recs, outDir.getAbsolutePath)
      // one manifest row per shard — collecting it IS the action that
      // drives the write (the PartMerge pattern)
      val written = manifest.select("path").as[String].collect().sorted
      val back = graft.wat.CcIndex
        .buildIndexFromRecords(s, written.toSeq)
        .where(col("fetch_status") === 200 &&
          col("url_host_name") === "docs.test")
      val media = graft.wat.CcIndex.fetchRecords(back)
        .select(regexp_extract(col("page_url"), "doc(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
          col("body").as("bytes"))
      Multimodal.mediaTriage(media).toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_units"))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    }),

    // Revisit-aware MEDIA extraction: resolveRevisits composed with
    // the BINARY fetch — crawl-2 media captures of ids %9==2 are
    // headers-only revisit records whose blob lives in the crawl-1
    // media archives; the resolver satisfies them via the digest-keyed
    // join and ONE ranged fetch serves responses and resolved
    // revisits alike, straight into the 13-family triage. Oracle =
    // the q_ccindex_media arithmetic over the same admitted ids: a
    // fetch that dropped revisits would lose every %9==2 row (those
    // ids exist ONLY as revisit records in crawl 2).
    "q_ccindex_media_revisit" -> ((s, dir) => {
      import s.implicits._
      val (idx1Path, _) =
        graft.wat.WatFixture.ensureDocMediaCcIndex(s, dir)
      val (idx2Path, _) =
        graft.wat.WatFixture.ensureDocMediaCcIndex2(s, dir)
      val cur = s.read.parquet(idx2Path)
        .where(col("fetch_status") === 200 &&
          col("url_host_name") === "docs.test")
      val prev = s.read.parquet(idx1Path)
      val media = graft.wat.CcIndex.fetchRecords(
        graft.wat.CcIndex.resolveRevisits(cur, prev))
        .select(regexp_extract(col("page_url"), "doc(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
          col("body").as("bytes"))
      Multimodal.mediaTriage(media).toDF()
        .select(col("doc_id"), col("format"), col("width"),
          col("height"), col("n_units"))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    }),

    // Format-targeted extraction: ONLY the PDFs of a mixed crawl —
    // the mime predicate prunes the index scan relationally (PDF rows
    // are 1/13th of the corpus; nothing else is ever ranged-read),
    // the raw fetch hands the bytes to the PDF walker, and the
    // metadata columns come out oracled. The 100 TB story: extracting
    // one format from a crawl touches index rows + that format's
    // bytes, never the other 12/13ths.
    "q_ccindex_pdf" -> ((s, dir) => {
      import s.implicits._
      val (idxPath, _) = graft.wat.WatFixture.ensureDocMediaCcIndex(s, dir)
      val idx = s.read.parquet(idxPath)
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "application/pdf")
      val media = graft.wat.CcIndex.fetchRecords(idx)
        .select(regexp_extract(col("page_url"), "doc(\\d+)\\.bin$", 1)
          .cast("long").as("doc_id"),
          col("body").as("bytes"))
      graft.ext.Pdf.pdfMeta(media)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    }),

    // Targeted CDXJ lookup via the cluster.idx secondary index: the
    // index lines live globally SURT-sorted in blocked-gzip shards;
    // a domain/prefix query binary-searches the (small) cluster.idx,
    // ranged-reads ONLY the matching compressed blocks, and feeds the
    // survivors to the same ranged page fetch — shards outside the
    // prefix range are never opened (spec-pinned by deleting them).
    // Prefix `test,docs)/doc1` = ids whose decimal form starts with 1.
    // Oracle = the fetch rendering restricted to that closed-form set.
    "q_cdxj_lookup" -> ((s, dir) => {
      import s.implicits._
      val (clusterIdx, shardDir, _) =
        graft.wat.WatFixture.ensureDocCdxjClustered(s, dir)
      val idx = graft.wat.Cdxj.lookupPrefix(s, clusterIdx, shardDir,
          "test,docs)/doc1")
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html" &&
          // the JSON block's languages field (real CC CDXJ carries
          // it), same eng gate as the partitioned parquet delta
          col("content_languages").contains("eng"))
      val pages = graft.wat.CcIndex.fetchHtmlPages(idx)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // CDXJ OUTPUT (graft.wat.CdxjSink): the text-index sink — the
    // engine WRITES the clustered publication shape (globally
    // SURT-sorted blocked-gzip cdx shards + cluster.idx) and then
    // consumes ITS OWN output with the targeted binary-searched
    // lookup. One range exchange of narrow index lines (the global
    // sort IS the format), per-partition imperative write, atomic
    // publish. Oracle = q_cdxj_lookup's exactly: the engine-written
    // layout must serve the identical prefix query as the fixture's.
    "q_cdxj_repack" -> ((s, dir) => {
      import s.implicits._
      val (cdxjs, _) = graft.wat.WatFixture.ensureDocCdxj(s, dir)
      val src = graft.wat.Cdxj.indexFrame(s, cdxjs)
      val outDir = new java.io.File(QueryUtil.scratchPath("cdxj_repack"))
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
      }
      rmr(outDir)
      outDir.mkdirs()
      val clusterIdx = graft.wat.CdxjSink.writeClustered(
        src, outDir.getAbsolutePath, shards = 4, blockLines = 16)
      val idx = graft.wat.Cdxj.lookupPrefix(s, clusterIdx,
          outDir.getAbsolutePath, "test,docs)/doc1")
        .where(col("fetch_status") === 200 &&
          col("content_mime_type") === "text/html" &&
          col("content_languages").contains("eng"))
      val pages = graft.wat.CcIndex.fetchHtmlPages(idx)
        .as[(String, String)]
      graft.ext.HtmlMarkdown.htmlToMarkdownKeyed(pages)
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // SURT canonicalization (graft.ext.Surt) — the key scheme every
    // web-archive index sorts by (cc-index url_surtkey, CDX/CDXJ
    // ordering): scheme/userinfo/fragment drop, www-label strip,
    // host reversal, default-port drop, bytewise query-param sort —
    // over a URL corpus rotating every rule.
    "q_surt_key" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Surt.syntheticUrlKeys(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long])
        .orderBy("doc_id")
    }),

    // WET sidecar extraction (graft.wat.WetText): the THIRD CC archive
    // format — `conversion` records carry the crawler's own text
    // extraction, so a text pipeline reading WET skips HTML parsing
    // entirely. Fixture: the documents table framed as WET shards
    // (a warcinfo header record per shard — skipped by type — then one
    // conversion record per doc); one task per archive, like WAT/WARC.
    "q_wet_extract" -> ((s, dir) => {
      val wets = graft.wat.WatFixture.ensureDocWets(s, dir)
      graft.wat.WetText.docs(s, wets)
        .select(col("page_url"), col("wet_text"))
        // a global orderBy would RANGE-SAMPLE the exchange-free read
        // and run the whole WET decode twice (the wat-extract family's
        // documented fix) — one round-robin exchange + in-partition
        // sort is one pass
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // WET re-packaging round trip (graft.wat.WetSink — the text-form
    // output): conversion records read through the WET source,
    // re-emitted as warcinfo-led conversion shards (deterministic
    // bytes, atomic publish), and read BACK through the same source —
    // a curated text corpus leaves the engine in the format text
    // pipelines consume, and the output is a first-class input again.
    // Oracle identical to q_wet_extract: the circle must be lossless.
    "q_wet_repack" -> ((s, dir) => {
      val wets = graft.wat.WatFixture.ensureDocWets(s, dir)
      import s.implicits._
      val texts = graft.wat.WetText.docs(s, wets)
        .select("page_url", "wet_text")
      val outDir = new java.io.File(QueryUtil.scratchPath("wet_repack"))
      def rmr(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rmr)); f.delete()
      }
      rmr(outDir)
      outDir.mkdirs()
      val manifest = graft.wat.WetSink.writeTexts(
        texts.repartition(4), outDir.getAbsolutePath)
      val written = manifest.select("path").as[String].collect().sorted
      graft.wat.WetText.docs(s, written.toSeq)
        .select(col("page_url"), col("wet_text"))
        // the established oracle-order tail: one round-robin exchange
        // + in-partition sort, never a range-sampling global orderBy
        .repartition(1)
        .sortWithinPartitions("page_url")
    }),

    // PDF metadata (graft.ext.Pdf): classic xref walk + trailer /Root
    // → /Pages /Count + /Info dict, with the xref offsets VALIDATED
    // (xref_ok) — each doc is a real multi-page PDF of its own text.
    // Ids %17==7 carry an /Encrypt trailer key and surface as
    // `encrypted` rows (header version only) instead of vanishing.
    "q_pdf_meta" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Pdf.pdfMeta(graft.ext.Pdf.syntheticPdfMedia(
        docsFanned(s, dir)
          .where(col("doc_id").isNotNull && col("text").isNotNull)
          .select("doc_id", "text").as[(java.lang.Long, String)]))
        .orderBy("doc_id")
    }),

    // PDF text extraction: the document's text round-trips through
    // 48-char show ops (literal/hex/TJ-array rotation), Td line moves,
    // 5-chunk pages, and the id%7 content-filter rotation (ahx/flate/
    // lzw/none/ahx+flate/a85/rle) — extraction must reproduce it
    // exactly under the uniform '\n'-per-48-chars rule; encrypted ids
    // (%17==7) yield no row.
    "q_pdf_text" -> ((s, dir) => {
      import s.implicits._
      graft.ext.Pdf.pdfTexts(graft.ext.Pdf.syntheticPdfMedia(
        docsFanned(s, dir)
          .where(col("doc_id").isNotNull && col("text").isNotNull)
          .select("doc_id", "text").as[(java.lang.Long, String)]))
        .orderBy("doc_id")
    }),

    // MPEG-1 parsing (graft.ext.Mpeg): sequence/GOP/picture start-code
    // walk; even ids wrap the elementary stream in program-stream PES
    // packets small enough that pictures SPAN packets — the demux +
    // reassembly is what kf1_first_byte witnesses there.
    "q_video_mpeg" -> ((s, dir) => {
      import s.implicits._
      Multimodal.videoMeta(Multimodal.syntheticMpegMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]))
        .toDF().orderBy("doc_id")
    }),

    // Frame sampling over the FRAGMENTED corpus: every 2nd sample cut
    // at the moof/trun-declared windows — proves the fragment offset
    // math end-to-end (frame_len + first_byte read back at the window).
    "q_video_frag_frames" -> ((s, dir) => {
      import s.implicits._
      Multimodal.sampleFrames(Multimodal.syntheticFragVideoMedia(
        docsWithTokens(s, dir).where(col("doc_id").isNotNull)
          .select("doc_id").as[java.lang.Long]), stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_len"),
          conv(hex(substring(col("frame"), 1, 1)), 16, 10).cast("long")
            .as("first_byte"))
        .orderBy("doc_id", "frame_idx")
    }),

    // Frame sampling on the REAL path: every 2nd sample of each doc's
    // MP4, cut at the container-declared byte boundaries. frame_len and
    // first_byte witness both the stride arithmetic and the windows.
    "q_video_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(videoMedia(s, dir), stride = 2)
        .select(col("doc_id"), col("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_len"),
          conv(hex(substring(col("frame"), 1, 1)), 16, 10).cast("long")
            .as("first_byte"))
        .orderBy("doc_id", "frame_idx")),

    // Keyframes-only cut (the cheap video-summarization path): exactly
    // the container's declared sync samples — every 3rd sample by the
    // muxer spec — at their declared windows.
    "q_video_keyframes" -> ((s, dir) =>
      Multimodal.keyframeRows(videoMedia(s, dir))
        .select(col("doc_id"), col("kf_idx"),
          octet_length(col("frame")).cast("long").as("frame_len"),
          conv(hex(substring(col("frame"), 1, 1)), 16, 10).cast("long")
            .as("first_byte"))
        .orderBy("doc_id", "kf_idx")),

    "q_multimodal_meta" -> ((s, dir) => {
      val bl = octet_length(encode(col("text"), "UTF-8")).cast("long")
      docsWithTokens(s, dir).select(
        col("doc_id"),
        bl.as("byte_len"),
        (lit(64L) + bl % 577).as("width"),
        (lit(64L) + (bl * 7) % 417).as("height"),
        ascii(substring(col("text"), 1, 1)).cast("long").as("luma"))
        .orderBy("doc_id")
    }),

    // --- corpus-relative term scoring (graft.ext.Ranking) ---

    // Top-5 keywords per doc by integer TF-IDF (exact rational idf
    // N/df — log-free so the score is bit-identical cross-engine).
    // df = combinable agg over tf rows + join-back; top-k = rank window
    // over the doc-bounded term partition.
    "q_tfidf" -> ((s, dir) => {
      graft.ext.Ranking.tfIdfTopK(
        docsFanned(s, dir).where(col("text").isNotNull),
        col("doc_id"), TA.tokens(col("text")), k = 5)
        .orderBy("doc_id", "rk")
    }),

    // BM25 retrieval ranking against a fixed query-term set, milli-
    // scaled integer arithmetic throughout (decimal(38,0) product ≙
    // oracle HUGEINT). Top-20 docs by (score desc, doc_id).
    "q_bm25" -> ((s, dir) => {
      graft.ext.Ranking.bm25(
        docsWithTokens(s, dir).where(col("text").isNotNull),
        col("doc_id"), TA.tokens(col("text")),
        Seq("spark", "merge", "vector"))
        .orderBy(col("score_milli").desc, col("doc_id"))
        .limit(20)
    }),

    // LSH recall audit — the text-side sibling of q_ann_recall: measure
    // the production banding's CANDIDATE GENERATION (4 bands × 2 rows)
    // against verified true pairs from a high-recall reference banding
    // (8 × 1; candidate prob 1−(1−j)^8 ≈ 0.9997 at j = 0.6). The verify
    // stage is config-independent and deterministic, so candidate-set
    // recall equals verified-pair recall — one Jaccard pass, not two.
    // recall_milli is integer-exact. Both sides are banded LSH: the
    // audit costs ~2 dedup runs, never an all-pairs pass.
    "q_lsh_recall" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val tks = TA.distinctTokens(col("text"))
      val truth = NearDup.lshNearDupPairs(d, col("doc_id"), tks,
        bands = 8, rowsPerBand = 1, maxBucket = 10, minJaccard = 0.6)
        .select("d1", "d2")
      val prodCand = NearDup.lshCandidatePairs(d, col("doc_id"), tks,
        bands = 4, rowsPerBand = 2, maxBucket = 10)
        .withColumn("f", lit(1L))
      truth.join(prodCand, Seq("d1", "d2"), "left")
        .agg(count(lit(1)).as("n_true"),
          coalesce(sum("f"), lit(0L)).as("n_found"))
        .withColumn("recall_milli", expr("n_found * 1000 div n_true"))
    }),

    // Substring-level dedup (Lee et al. arXiv:2107.06499 ExactSubstr,
    // gram-lattice form — see graft.ext.SubstringDedup): maximal spans
    // of token positions covered by a 5-gram occurring >= 2 times
    // corpus-wide (within-doc repetition counts, like a suffix array).
    "q_dup_spans" -> ((s, dir) => {
      SubstringDedup.duplicatedSpans(
        docsFanned(s, dir), "doc_id", TA.tokens(col("text")),
        n = 5, minCount = 2)
        .orderBy("doc_id", "span_start")
    }),

    // The transform itself: documents with every duplicated span cut
    // out; clean_fp = md5 of the surviving space-joined tokens.
    "q_substring_dedup" -> ((s, dir) => {
      SubstringDedup.removeDuplicatedSpans(
        docsFanned(s, dir), "doc_id", TA.tokens(col("text")),
        n = 5, minCount = 2)
        .orderBy("doc_id")
    }),

    // Heavy hitters via a mergeable Misra-Gries sketch (capacity 63)
    // + exact recount of the <= 63 candidates: output is EXACTLY the
    // tokens with count*64 > stream length, but the full-vocabulary
    // aggregation never runs (see graft.ext.Sketches).
    "q_heavy_hitters" -> ((s, dir) => {
      Sketches.heavyHitters(
        docsWithTokens(s, dir)
          .select(explode(TA.tokens(col("text"))).as("token")),
        m = 63)
        .orderBy("item")
    }),

    // fastText-shaped linear quality filter (hashed weights, mean
    // pooling, integer milli arithmetic — graft.ext.QualityModel).
    "q_quality_lr" -> ((s, dir) => {
      graft.ext.QualityModel.hashedScore(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")),
        biasMilli = 50L)
        .orderBy("doc_id")
    }),

    // Corpus-trained bigram-LM surprisal (the CCNet/KenLM perplexity
    // filter, integer-exact via floor-log2 — graft.ext.LanguageModel).
    "q_surprisal" -> ((s, dir) => {
      graft.ext.LanguageModel.bigramSurprisal(
        docsFanned(s, dir), "doc_id", TA.tokens(col("text")))
        .orderBy("doc_id")
    }),

    // Quality-aware cluster dedup: each near-dup cluster keeps its
    // BEST-scoring member (classifier score, ties to smallest id) —
    // "keep the best duplicate, not the first".
    "q_cluster_best" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
      val pairs = NearDup.lshNearDupPairs(d, col("doc_id"),
        TA.distinctTokens(col("text")), bands = 4, rowsPerBand = 2,
        maxBucket = 10, minJaccard = 0.6)
      val scored = d.select(col("doc_id"))
        .join(graft.ext.QualityModel.hashedScore(
          d, "doc_id", TA.tokens(col("text")), biasMilli = 50L)
          .select(col("doc_id"), col("score_milli")), "doc_id")
      Clustering.clusterBest(scored, pairs, "doc_id", "score_milli")
        .orderBy("doc_id")
    }),

    // Source-level curation rollup (the RefinedWeb-style decision one
    // level above documents): per source, doc count, integer mean LR
    // score, kept share, and the keep/review verdict.
    "q_source_quality" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
      val scored = graft.ext.QualityModel.hashedScore(
        d, "doc_id", TA.tokens(col("text")), biasMilli = 50L)
      d.select(col("doc_id"), col("source"))
        .join(scored, "doc_id")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(score_milli) div count(1)").as("mean_score_milli"),
          sum(when(col("label") === "keep", 1L).otherwise(0L)).as("n_keep"))
        .withColumn("keep_share_milli", expr("n_keep * 1000 div n_docs"))
        .withColumn("verdict",
          when(col("keep_share_milli") >= 500, "keep_source")
            .otherwise("review"))
        .orderBy("source")
    }),

    // Incremental near-dup: the daily batch (doc_id%4==0) LSH-checked
    // against the historical corpus (rest) — near-verbatim rewrites of
    // already-ingested docs, the fuzzy sibling of q_incremental_dedup.
    "q_incremental_neardup" -> ((s, dir) => {
      val d = docsWithTokens(s, dir)
      val tks = TA.distinctTokens(col("text"))
      NearDup.incrementalNearDupPairs(
        d.where(col("doc_id") % 4 === 0),
        d.where(col("doc_id") % 4 =!= 0),
        col("doc_id"), tks,
        bands = 4, rowsPerBand = 2, maxBucket = 10, minJaccard = 0.6)
        .orderBy("new_id", "old_id")
    }),

    // Unicode NFC canonicalization (native codegen expression; Spark
    // has no builtin — TA.nfc ≙ DuckDB nfc_normalize). Decomposed
    // (e + U+0301) and precomposed (U+00E9) suffixes are injected
    // deterministically; after NFC both arms fingerprint identically.
    "q_nfc_normalize" -> ((s, dir) => {
      val suffix = when(col("doc_id") % 3 === 0, lit(" café"))
        .when(col("doc_id") % 3 === 1, lit(" café"))
        .otherwise(lit(""))
      val t = concat(col("text"), suffix)
      docsWithTokens(s, dir)
        .where(col("doc_id").isNotNull)
        .select(col("doc_id"),
          length(t).as("len_raw"),
          length(TA.nfc(t)).as("len_nfc"),
          md5(TA.nfc(t)).as("fp_nfc"))
        .orderBy("doc_id")
    }),

    // Feature-hashing document embeddings (Weinberger '09 / fastText
    // input layer): 8 integer dims from token hashes — the vector
    // on-ramp for the ANN stack when no trained encoder exists.
    "q_hash_embed" -> ((s, dir) => {
      graft.ext.QualityModel.hashedEmbedding(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")), dims = 8)
        .orderBy("doc_id")
    }),

    // The round-9 operators COMPOSED under one oracle (the q_assembly
    // pattern): linear-classifier quality gate -> substring-dedup
    // removal over the kept corpus -> bigram-LM surprisal trained on
    // the kept corpus. Corpus-relative stages (gram occurrence counts,
    // LM counts) see only survivors — the composition is the
    // semantics, not three independent queries.
    "q_curate_compose" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
      val toks = TA.tokens(col("text"))
      val scored = graft.ext.QualityModel
        .hashedScore(d, "doc_id", toks, biasMilli = 50L)
        .where(col("label") === "keep")
        .select(col("doc_id"), col("score_milli"))
      val kept = d.select(col("doc_id"), col("text")).join(scored, "doc_id")
      val cleaned = SubstringDedup
        .removeDuplicatedSpans(kept, "doc_id", toks, n = 5, minCount = 2)
        .select(col("doc_id"), col("n_removed"), col("clean_fp"))
      val lm = graft.ext.LanguageModel
        .bigramSurprisal(kept, "doc_id", toks)
        .select(col("doc_id"), col("score_milli_bits"))
      kept.select(col("doc_id"), col("score_milli"))
        .join(cleaned, "doc_id")
        .join(lm, Seq("doc_id"), "left") // < 2-token docs have no LM row
        .select(col("doc_id"), col("score_milli"), col("n_removed"),
          col("clean_fp"),
          coalesce(col("score_milli_bits"), lit(-1L)).as("lm_milli_bits"))
        .orderBy("doc_id")
    }),

    // Distributed BPE tokenizer training (graft.ext.BpeTrainer): the
    // learned merge list after 3 rounds over the word-type table.
    // BATCHED trainer (graft.ext.BpeTrainer.learnBpeBatched): up to 8
    // merges land per distributed job, with a proven guarantee that the
    // learned list is EXACTLY the sequential one — so the sequential
    // DuckDB oracle still hash-matches. BpeTrainerSpec pins equality on
    // adversarial corpora; BpeBatchProbe prices the round-trip cut.
    "q_bpe_train" -> ((s, dir) => {
      val (m, t) = graft.ext.BpeTrainer.learnBpeBatched(
        docsFanned(s, dir), "doc_id", TA.tokens(col("text")),
        rounds = 3, maxBatch = 8)
      t.unpersist()
      m
    }),

    // BPE ENCODE — the trained tokenizer applied to the corpus: per-doc
    // word/subword counts + a fingerprint of the in-order subword
    // stream. Segmentation is paid once per word TYPE at training; the
    // encode is one vocabulary-table equi-join, never a per-row merge
    // replay. Result is eagerly materialized so the type-table cache
    // releases (the curate()/kmeans cache discipline).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = docsFanned(s, dir)
      val tk = TA.tokens(col("text"))
      val (_, types) = graft.ext.BpeTrainer.learnBpeBatched(
        docs, "doc_id", tk, rounds = 3, maxBatch = 8)
      val enc = graft.ext.BpeTrainer.encode(docs, "doc_id", tk, types)
        .orderBy("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      enc.count()
      types.unpersist()
      enc
    }),

    // The CROSS-corpus encode contract: a tokenizer trained on the
    // first half of the corpus (doc_id < 250) applied to the unseen
    // second half — words absent from the trained type table segment
    // to characters (the left-join + char-split fallback, Sennrich
    // §3.2), counted per doc as n_oov. Pins that encode never silently
    // drops OOV tokens, the production drift-alert path.
    "q_bpe_encode_oov" -> ((s, dir) => {
      val docs = docsFanned(s, dir)
      val tk = TA.tokens(col("text"))
      val (_, types) = graft.ext.BpeTrainer.learnBpeBatched(
        docs.where(col("doc_id") < 250), "doc_id", tk, rounds = 3,
        maxBatch = 8)
      val enc = graft.ext.BpeTrainer.encode(
          docs.where(col("doc_id") >= 250), "doc_id", tk, types)
        .orderBy("doc_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      enc.count()
      types.unpersist()
      enc
    }),

    // Snapshot reconciliation (graft.ext.SnapshotDiff): two simulated
    // crawl snapshots of the same corpus (v1 drops doc_id%10==0, v2
    // drops %10==1 and edits %5==2) full-outer reconciled by content
    // md5 — the added/removed/changed/same census an incremental
    // pipeline alerts on.
    "q_snapshot_diff" -> ((s, dir) => {
      val d = docsWithTokens(s, dir).where(col("doc_id").isNotNull)
      val v1 = d.where(col("doc_id") % 10 =!= 0)
        .select(col("doc_id"), md5(col("text")).as("fp"))
      val v2 = d.where(col("doc_id") % 10 =!= 1)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 5 === 2,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
            .as("fp"))
      graft.ext.SnapshotDiff.diff(v1, v2, "doc_id", "fp")
        .orderBy("doc_id")
    }),

    // Edit-distance similarity self-join (graft.ext.FuzzyJoin):
    // Ed-Join prefix-filter blocking over the q·d+1 globally-rarest
    // q-grams per name, then exact levenshtein verification. The
    // oracle is DuckDB's BRUTE-FORCE all-pairs ground truth, so the
    // hash match proves the blocking is lossless (recall 1.0) — not a
    // sampled estimate.
    "q_fuzzy_pairs" -> ((s, dir) => {
      graft.ext.FuzzyJoin.selfPairs(
          table(s, dir, "customer").select("c_custkey", "c_name"),
          "c_custkey", "c_name", d = 1)
        .orderBy("id1", "id2")
    }),

    // Asymmetric fuzzy LOOKUP (FuzzyJoin.lookupPairs): every 125th
    // customer name gets one deterministic digit→'x' typo and is
    // resolved back against the full corpus at d=1 — the entity-
    // resolution / fuzzy-decontamination direction (R-S, not self).
    // The oracle is DuckDB's brute-force probe×corpus scan.
    "q_fuzzy_lookup" -> ((s, dir) => {
      val cust = table(s, dir, "customer").select("c_custkey", "c_name")
      val probes = cust.where(pmod(col("c_custkey"), lit(125)) === 1)
        .select(col("c_custkey").as("probe_id"),
          expr("concat(substring(c_name, 1, cast(c_custkey % 9 as int) + 9), " +
            "'x', substring(c_name, cast(c_custkey % 9 as int) + 11))")
            .as("probe_name"))
      graft.ext.FuzzyJoin.lookupPairs(probes, cust,
          "probe_id", "probe_name", "c_custkey", "c_name", d = 1)
        .orderBy("id1", "id2")
    }),

    // d=2 fuzzy linkage over a DEDUPED name table — the canonical
    // "collapse exact duplicates, then link near-classes" composition
    // (raw part names are a 64-class × ~300-copy clique corpus at
    // sf0.1; fuzzy-joining the raw rows would measure output
    // materialization of the cliques, not blocking). Survivor id =
    // min key per name, exactly like the dedup operators.
    "q_fuzzy_names_d2" -> ((s, dir) => {
      // materialized to scratch parquet, not .cache(): FuzzyJoin
      // consumes its input in six branches, and the per-branch length
      // filters push BELOW the dedup agg, breaking exchange-reuse
      // twinning — without a barrier the part scan + agg would execute
      // six times. A cache() here would pin the entry in the shared
      // session's storage memory for the rest of the battery (no
      // post-return unpersist hook exists on a lazily-consumed frame);
      // the overwrite-mode scratch write is the same one-materialization
      // barrier with zero session-lifetime footprint.
      val stage = QueryUtil.scratchPath(s"fuzzy-names-d2/" +
        dir.replaceAll("[^a-zA-Z0-9]", "_"))
      table(s, dir, "part")
        .groupBy("p_name").agg(min("p_partkey").as("p_partkey"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val names = s.read.parquet(stage)
      graft.ext.FuzzyJoin.selfPairs(names, "p_partkey", "p_name", d = 2)
        .orderBy("id1", "id2")
    }),

    // Positional phrase search (graft.ext.Search): postings alignment
    // via (doc, pos-i) equi-joins — no regex scan, no token-value join.
    "q_phrase_search" -> ((s, dir) => {
      graft.ext.Search.phraseMatches(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")),
        Seq("slow", "hash", "batch"))
        .orderBy("doc_id")
    }),

    // Deterministic weighted sampling without replacement (priority
    // sampling, Duffield et al. — graft.ext.Assembly.prioritySample):
    // 50 docs weighted by length, reproducible on any engine.
    "q_weighted_sample" -> ((s, dir) => {
      graft.ext.Assembly.prioritySample(
        docsWithTokens(s, dir).select("doc_id", "n_chars"),
        "doc_id", col("n_chars"), k = 50)
    }),

    // CCNet head/middle/tail perplexity bucketing (Wenzek '19): exact
    // rank-based terciles over the surprisal distribution, computed
    // without a corpus-wide sort (bounded-domain cumulative).
    "q_ppl_buckets" -> ((s, dir) => {
      graft.ext.LanguageModel.surprisalBuckets(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")))
        .orderBy("doc_id")
    }),

    // Collocation extraction: top-25 bigrams by integer PMI lift
    // (graft.ext.LanguageModel.collocations), df-cut at 5.
    "q_collocations" -> ((s, dir) => {
      graft.ext.LanguageModel.collocations(
        docsWithTokens(s, dir), "doc_id", TA.tokens(col("text")),
        minCount = 5, k = 25)
    }),

    // Z-order (Morton) interleave — the multi-dim data-skipping layout
    // key (graft.ops.ZOrder; layout pruning itself pinned by ZOrderSpec
    // min/max-box test). First 100 events in z order.
    "q_zorder" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"), col("user_id"),
          cents(col("value")).as("value_c"))
        .withColumn("z", graft.ops.ZOrder.interleave2(
          col("user_id"), col("value_c"), 16))
        .orderBy("z", "event_id")
        .limit(100)
    })
  )

  // --- oracles ---

  private val tokensSql = "string_split(text, ' ')"
  private val dtokensSql = s"list_distinct($tokensSql)"

  private def simhashOracle: String = {
    val planes = (0 until 16)
      .map(b => s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
      .mkString(",\n    ")
    val sig = (0 until 16)
      .map(b => s"CASE WHEN s$b >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH w AS (
       |  SELECT doc_id, unnest($dtokensSql) AS w FROM documents),
       |h AS (SELECT doc_id, ${Hashing.h32Sql("w")} AS h FROM w),
       |s AS (SELECT doc_id,
       |    $planes
       |  FROM h GROUP BY doc_id)
       |SELECT doc_id, ($sig)::BIGINT AS simhash FROM s ORDER BY doc_id""".stripMargin
  }

  private def minhashOracle: String = {
    val sigs = (0 until 8).map { i =>
      s"list_aggregate(list_transform(hs, h -> ${Hashing.mixSql(i, "h")}), 'min') AS mh$i"
    }.mkString(",\n    ")
    val bandSel = (0 until 4).map { b =>
      s"SELECT doc_id, ${b}::BIGINT AS band_id, mh${2 * b} || '_' || mh${2 * b + 1} AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_transform($dtokensSql, w -> ${Hashing.h32Sql("w")}) AS hs
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM hashed),
       |bands AS (
       |  $bandSel)
       |SELECT band_id, band_key, count(*)::BIGINT AS bucket_size,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM bands GROUP BY band_id, band_key
       |HAVING count(*) > 1
       |ORDER BY band_id, band_key""".stripMargin
  }

  private def minhashAggOracle: String = {
    val sigs = (0 until 8).map { i =>
      s"list_aggregate(list_transform(hs, h -> ${Hashing.mixSql(i, "h")}), 'min') AS mh$i"
    }.mkString(",\n    ")
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_transform($dtokensSql, w -> ${Hashing.h32Sql("w")}) AS hs
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id,
       |  $sigs
       |FROM hashed ORDER BY doc_id""".stripMargin
  }

  private def dedupMinhashOracle: String = {
    val sigs = (0 until 8).map { i =>
      s"list_aggregate(list_transform(hs, h -> ${Hashing.mixSql(i, "h")}), 'min') AS mh$i"
    }.mkString(",\n    ")
    val sigCat = (0 until 8).map(i => s"mh$i").mkString(" || '_' || ")
    s"""WITH hashed AS (
       |  SELECT doc_id,
       |    list_transform($dtokensSql, w -> ${Hashing.h32Sql("w")}) AS hs
       |  FROM documents WHERE text IS NOT NULL),
       |sig AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM hashed),
       |s2 AS (SELECT doc_id, $sigCat AS sig FROM sig)
       |SELECT doc_id, sig FROM (
       |  SELECT *, row_number() OVER (PARTITION BY sig ORDER BY doc_id) AS rn
       |  FROM s2) WHERE rn = 1
       |ORDER BY doc_id""".stripMargin
  }

  // Mirrors lshNearDupPairs: same signature/band construction as
  // minhashOracle, bucket-size cap 2..10, distinct candidate pairs,
  // exact Jaccard over distinct-token sets.
  /** CTE chain ending in `p(d1, d2, inter_size, union_size, jac)` — the
    * verified LSH near-dup pairs; shared by the pair and cluster oracles.
    */
  private def lshPairsCtes: String = {
    val sigs = (0 until 8).map { i =>
      s"list_aggregate(list_transform(hs, h -> ${Hashing.mixSql(i, "h")}), 'min') AS mh$i"
    }.mkString(",\n    ")
    val bandSel = (0 until 4).map { b =>
      s"SELECT doc_id, ${b}::BIGINT AS band_id, mh${2 * b} || '_' || mh${2 * b + 1} AS band_key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""hashed AS (
       |  SELECT doc_id,
       |    list_transform($dtokensSql, w -> ${Hashing.h32Sql("w")}) AS hs
       |  FROM documents),
       |sig AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM hashed),
       |bands0 AS (
       |  $bandSel),
       |keep AS (
       |  SELECT band_id, band_key FROM bands0
       |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 10),
       |bands AS (
       |  SELECT b.* FROM bands0 b JOIN keep USING (band_id, band_key)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |tk AS (SELECT doc_id, $dtokensSql AS tk FROM documents),
       |v AS (
       |  SELECT d1, d2,
       |    len(list_filter(a.tk, x -> list_contains(b.tk, x)))::BIGINT AS inter_size,
       |    (len(a.tk) + len(b.tk))::BIGINT
       |      - len(list_filter(a.tk, x -> list_contains(b.tk, x)))::BIGINT AS union_size
       |  FROM cand JOIN tk a ON cand.d1 = a.doc_id JOIN tk b ON cand.d2 = b.doc_id),
       |p AS (
       |  SELECT d1, d2, inter_size, union_size,
       |    inter_size::DOUBLE / union_size AS jac
       |  FROM v WHERE inter_size::DOUBLE / union_size >= 0.6)""".stripMargin
  }

  /** Mirrors q_incremental_neardup: one shared signature table, bands
    * split into batch (doc_id%4=0) and history, cap on HISTORY buckets
    * only, cross-corpus candidate join, same Jaccard verify.
    */
  private def incrementalNearDupOracle: String = {
    val sigs = (0 until 8).map { i =>
      s"list_aggregate(list_transform(hs, h -> ${Hashing.mixSql(i, "h")}), 'min') AS mh$i"
    }.mkString(",\n    ")
    val bandSel = (0 until 4).map { b =>
      val key = (0 until 2).map(r => s"mh${b * 2 + r}::VARCHAR")
        .mkString(" || '_' || ")
      s"SELECT doc_id, ${b}::BIGINT AS band_id, $key AS band_key FROM isig"
    }.mkString("\n  UNION ALL ")
    s"""WITH ihashed AS (
       |  SELECT doc_id,
       |    list_transform($dtokensSql, w -> ${Hashing.h32Sql("w")}) AS hs
       |  FROM documents),
       |isig AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM ihashed),
       |ibands0 AS (
       |  $bandSel),
       |bb AS (SELECT doc_id AS new_id, band_id, band_key FROM ibands0
       |       WHERE doc_id % 4 = 0),
       |bh0 AS (SELECT doc_id AS old_id, band_id, band_key FROM ibands0
       |        WHERE doc_id % 4 <> 0),
       |ikeep AS (SELECT band_id, band_key FROM bh0
       |          GROUP BY 1, 2 HAVING count(*) <= 10),
       |bh AS (SELECT b.* FROM bh0 b JOIN ikeep USING (band_id, band_key)),
       |icand AS (
       |  SELECT DISTINCT new_id, old_id
       |  FROM bb JOIN bh USING (band_id, band_key)),
       |itk AS (SELECT doc_id, $dtokensSql AS tk FROM documents),
       |iv AS (
       |  SELECT new_id, old_id,
       |    len(list_filter(a.tk, x -> list_contains(b.tk, x)))::BIGINT
       |      AS inter_size,
       |    (len(a.tk) + len(b.tk))::BIGINT
       |      - len(list_filter(a.tk, x -> list_contains(b.tk, x)))::BIGINT
       |      AS union_size
       |  FROM icand JOIN itk a ON icand.new_id = a.doc_id
       |    JOIN itk b ON icand.old_id = b.doc_id)
       |SELECT new_id, old_id, inter_size, union_size,
       |  inter_size::DOUBLE / union_size AS jac
       |FROM iv WHERE inter_size::DOUBLE / union_size >= 0.6
       |ORDER BY new_id, old_id""".stripMargin
  }

  private def lshNearDupOracle: String =
    s"""WITH $lshPairsCtes
       |SELECT d1, d2, inter_size, union_size, jac FROM p
       |ORDER BY d1, d2""".stripMargin

  /** [[lshPairsCtes]] generalized to any (bands, rowsPerBand) with
    * prefixed CTE names, so two configurations can coexist in one
    * statement (the q_lsh_recall audit). Ends in `<p>p(d1, d2, ...)`.
    */
  private def lshPairsCtesFor(p: String, bands: Int,
      rowsPerBand: Int): String = {
    val sigs = (0 until bands * rowsPerBand).map { i =>
      s"list_aggregate(list_transform(hs, h -> ${Hashing.mixSql(i, "h")}), 'min') AS mh$i"
    }.mkString(",\n    ")
    val bandSel = (0 until bands).map { b =>
      val key = (0 until rowsPerBand)
        .map(r => s"mh${b * rowsPerBand + r}::VARCHAR")
        .mkString(" || '_' || ")
      s"SELECT doc_id, ${b}::BIGINT AS band_id, $key AS band_key FROM ${p}sig"
    }.mkString("\n  UNION ALL ")
    s"""${p}hashed AS (
       |  SELECT doc_id,
       |    list_transform($dtokensSql, w -> ${Hashing.h32Sql("w")}) AS hs
       |  FROM documents),
       |${p}sig AS (
       |  SELECT doc_id,
       |    $sigs
       |  FROM ${p}hashed),
       |${p}bands0 AS (
       |  $bandSel),
       |${p}keep AS (
       |  SELECT band_id, band_key FROM ${p}bands0
       |  GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 10),
       |${p}bands AS (
       |  SELECT b.* FROM ${p}bands0 b JOIN ${p}keep USING (band_id, band_key)),
       |${p}cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM ${p}bands a JOIN ${p}bands b
       |    ON a.band_id = b.band_id AND a.band_key = b.band_key
       |    AND a.doc_id < b.doc_id),
       |${p}tk AS (SELECT doc_id, $dtokensSql AS tk FROM documents),
       |${p}v AS (
       |  SELECT d1, d2,
       |    len(list_filter(a.tk, x -> list_contains(b.tk, x)))::BIGINT AS inter_size,
       |    (len(a.tk) + len(b.tk))::BIGINT
       |      - len(list_filter(a.tk, x -> list_contains(b.tk, x)))::BIGINT AS union_size
       |  FROM ${p}cand JOIN ${p}tk a ON ${p}cand.d1 = a.doc_id
       |    JOIN ${p}tk b ON ${p}cand.d2 = b.doc_id),
       |${p}p AS (
       |  SELECT d1, d2 FROM ${p}v
       |  WHERE inter_size::DOUBLE / union_size >= 0.6)""".stripMargin
  }

  // Mirrors q_lsh_recall: verified truth pairs from the reference
  // banding (8×1), CANDIDATE pairs from the production banding (4×2 —
  // the q_cand CTE, pre-verify); integer-exact recall. Unreferenced
  // CTEs of the q_ chain (tk/v/p) are never evaluated.
  private def lshRecallOracle: String =
    s"""WITH ${lshPairsCtesFor("t_", 8, 1)},
       |${lshPairsCtesFor("q_", 4, 2)},
       |sel AS (
       |  SELECT t.d1, t.d2, CASE WHEN q.d1 IS NULL THEN 0 ELSE 1 END AS f
       |  FROM t_p t LEFT JOIN q_cand q ON t.d1 = q.d1 AND t.d2 = q.d2)
       |SELECT count(*)::BIGINT AS n_true, sum(f)::BIGINT AS n_found,
       |  ((sum(f) * 1000) // count(*))::BIGINT AS recall_milli
       |FROM sel""".stripMargin

  // Mirrors Ranking.tfIdfTopK: same exact rational idf, same floor div,
  // same (score desc, token) rank order.
  private def tfidfOracle: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
       |ex AS (SELECT doc_id, unnest($tokensSql) AS token FROM d),
       |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
       |       FROM ex GROUP BY 1, 2),
       |dfx AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |nn AS (SELECT count(*)::BIGINT AS n_docs FROM d),
       |sc AS (SELECT doc_id, token, tf, df,
       |         ((tf * n_docs * 1000) // df)::BIGINT AS score_milli
       |       FROM tf JOIN dfx USING (token) CROSS JOIN nn),
       |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
       |        ORDER BY score_milli DESC, token) AS rk FROM sc)
       |SELECT doc_id, token, tf, df, score_milli, rk::BIGINT AS rk
       |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin

  // Mirrors Ranking.bm25: identical milli-scaled integer pipeline;
  // HUGEINT product ≙ Spark decimal(38,0).
  private def bm25Oracle: String =
    s"""WITH d AS (SELECT doc_id, $tokensSql AS tks FROM documents
       |           WHERE text IS NOT NULL),
       |lens AS (SELECT doc_id, len(tks)::BIGINT AS dl FROM d),
       |tot AS (SELECT count(*)::BIGINT AS n_docs,
       |          ((sum(dl)::BIGINT * 1000) // count(*))::BIGINT AS avgdl_milli
       |        FROM lens),
       |ex AS (SELECT doc_id, unnest(tks) AS token FROM d),
       |tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM ex
       |       WHERE token IN ('spark', 'merge', 'vector') GROUP BY 1, 2),
       |dfx AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT tf.doc_id,
       |    (((2 * n_docs - 2 * df + 1) * 1000) // (2 * df + 1))::BIGINT
       |      AS idf_milli,
       |    (250 + ((750 * dl * 1000) // avgdl_milli))::BIGINT AS inner_milli,
       |    tf.tf, dl
       |  FROM tf JOIN dfx USING (token) JOIN lens ON tf.doc_id = lens.doc_id
       |  CROSS JOIN tot),
       |tm AS (
       |  SELECT doc_id,
       |    ((idf_milli::HUGEINT * tf * 2200)
       |      // (tf * 1000 + ((1200 * inner_milli) // 1000)))::BIGINT
       |      AS term_milli
       |  FROM sc)
       |SELECT doc_id, sum(term_milli)::BIGINT AS score_milli,
       |  count(*)::BIGINT AS n_terms_hit
       |FROM tm GROUP BY doc_id
       |ORDER BY score_milli DESC, doc_id LIMIT 20""".stripMargin

  /** Exact connected components of the pair graph via a recursive CTE:
    * reach(doc, lab) = every label in doc's component (edges are
    * symmetrized; UNION dedups so the recursion terminates), so
    * min(lab) per doc is the component minimum — the same fixpoint
    * Clustering.connectedComponents returns.
    */
  private def ccCtes: String =
    s"""$lshPairsCtes,
       |edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM p
       |  UNION SELECT d2, d1 FROM p),
       |reach(doc, lab) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.doc),
       |cc AS (
       |  SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach
       |  GROUP BY doc)""".stripMargin

  // Mirrors q_cluster_best: the SAME recursive components + the SAME
  // classifier score, winner by (score desc, doc_id) per cluster.
  private def clusterBestOracle: String =
    s"""WITH RECURSIVE $ccCtes,
       |tq AS (SELECT doc_id, unnest($tokensSql) AS token
       |       FROM documents WHERE doc_id IS NOT NULL),
       |sq AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |         sum(${graft.ext.QualityModel.hashedWeightSql("token")})::BIGINT
       |           AS wsum
       |       FROM tq GROUP BY doc_id),
       |sc AS (SELECT doc_id,
       |         ((wsum + 50) // n_tokens)::BIGINT AS score_milli FROM sq),
       |lab AS (SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cl
       |        FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
       |        WHERE d.doc_id IS NOT NULL),
       |j AS (SELECT lab.doc_id, lab.cl, sc.score_milli
       |      FROM lab JOIN sc ON lab.doc_id = sc.doc_id),
       |w AS (SELECT cl, doc_id AS win FROM (
       |        SELECT cl, doc_id, row_number() OVER (PARTITION BY cl
       |          ORDER BY score_milli DESC, doc_id) AS rn FROM j)
       |      WHERE rn = 1)
       |SELECT j.doc_id, j.score_milli FROM j
       |JOIN w ON j.cl = w.cl AND j.doc_id = w.win
       |ORDER BY j.doc_id""".stripMargin

  private def neardupClusterOracle: String =
    s"""WITH RECURSIVE $ccCtes
       |SELECT doc_id, cluster_id FROM cc ORDER BY doc_id""".stripMargin

  // Mirrors q_cluster_stats: same recursive components, sizes, then the
  // size histogram.
  private def clusterStatsOracle: String =
    s"""WITH RECURSIVE $ccCtes,
       |szs AS (SELECT cluster_id, count(*)::BIGINT AS sz
       |        FROM cc GROUP BY 1)
       |SELECT sz, count(*)::BIGINT AS n_clusters,
       |  (count(*) * sz)::BIGINT AS n_docs
       |FROM szs GROUP BY sz ORDER BY sz""".stripMargin

  // Mirrors q_minhash_est: same signatures (sig CTE of lshPairsCtes),
  // same verified pairs, matches × 125 vs the exact integer Jaccard.
  private def minhashEstOracle: String = {
    val matches = (0 until 8)
      .map(i => s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH $lshPairsCtes,
       |m AS (
       |  SELECT p.d1, p.d2,
       |    (($matches) * 125)::BIGINT AS est_milli,
       |    ((p.inter_size * 1000) // p.union_size)::BIGINT AS exact_milli
       |  FROM p JOIN sig a ON p.d1 = a.doc_id
       |         JOIN sig b ON p.d2 = b.doc_id)
       |SELECT d1, d2, est_milli, exact_milli,
       |  abs(est_milli - exact_milli)::BIGINT AS abs_err_milli
       |FROM m ORDER BY d1, d2""".stripMargin
  }

  // Mirrors q_cluster_split: the SAME recursive-CTE components as the
  // cluster oracles, the SAME split CASE keyed on the cluster label.
  private def clusterSplitOracle: String =
    s"""WITH RECURSIVE $ccCtes,
       |lab AS (
       |  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id)
       |SELECT doc_id, cluster_id,
       |  CASE WHEN ${Hashing.h32Sql("'sp|' || cluster_id::VARCHAR")} % 100
       |      < 90 THEN 'train'
       |    WHEN ${Hashing.h32Sql("'sp|' || cluster_id::VARCHAR")} % 100
       |      < 95 THEN 'val'
       |    ELSE 'test' END AS split
       |FROM lab ORDER BY doc_id""".stripMargin

  private def clusterDedupOracle: String =
    s"""WITH RECURSIVE $ccCtes
       |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
       |WHERE d.doc_id NOT IN
       |  (SELECT doc_id FROM cc WHERE doc_id <> cluster_id)
       |ORDER BY d.doc_id""".stripMargin

  private def curationOracle: String =
    s"""WITH c AS (
       |  SELECT doc_id, lang, n_chars, text,
       |    len($tokensSql)::BIGINT AS n_tokens,
       |    len($dtokensSql)::BIGINT AS nd,
       |    length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS ac,
       |    len(list_filter($tokensSql, t -> t IN ($stopSql)))::BIGINT AS sh
       |  FROM documents),
       |sc AS (
       |  SELECT doc_id, lang, n_chars, text, n_tokens,
       |    (nd::DOUBLE / n_tokens) * 0.35 + (ac::DOUBLE / n_chars) * 0.35 +
       |    (sh::DOUBLE / n_tokens) * 0.1 +
       |    (least(n_tokens, 100)::DOUBLE / 100.0) * 0.2 AS score
       |  FROM c),
       |kept AS (
       |  SELECT *, md5(array_to_string(list_sort($dtokensSql), ' ')) AS bag_fp
       |  FROM sc WHERE score >= 0.575 AND n_tokens >= 20),
       |exact AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY bag_fp ORDER BY doc_id) AS rn
       |    FROM kept) WHERE rn = 1),
       |blocked AS (
       |  SELECT doc_id, lang, floor(n_chars / 50)::BIGINT AS bucket,
       |    list_distinct(list_transform(
       |      list_transform(range(1, len($tokensSql)),
       |        i -> $tokensSql[i] || ' ' || $tokensSql[i + 1]),
       |      x -> ${Hashing.h32Sql("x")})) AS hs
       |  FROM exact),
       |bex AS (SELECT doc_id, lang, bucket, unnest(hs) AS s FROM blocked),
       |bsz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM bex GROUP BY doc_id),
       |binter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS i_sz
       |  FROM bex a JOIN bex b
       |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.s = b.s
       |  WHERE a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |drops AS (
       |  SELECT DISTINCT d2 FROM binter
       |  JOIN bsz s1 ON binter.d1 = s1.doc_id
       |  JOIN bsz s2 ON binter.d2 = s2.doc_id
       |  WHERE i_sz::DOUBLE / (s1.sz + s2.sz - i_sz) >= 0.6)
       |SELECT doc_id, lang, n_tokens, score FROM exact
       |WHERE doc_id NOT IN (SELECT d2 FROM drops)
       |ORDER BY doc_id""".stripMargin

  private def embedSigOracle: String = {
    val sig = (0 until 12)
      .map(b => s"CASE WHEN embedding[${b + 1}] >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    s"""WITH s AS (SELECT vec_id, ($sig)::BIGINT AS sig FROM embeddings)
       |SELECT sig, count(*)::BIGINT AS n_vecs,
       |  min(vec_id) AS min_vec, max(vec_id) AS max_vec
       |FROM s GROUP BY sig HAVING count(*) > 1 ORDER BY sig""".stripMargin
  }

  private val prepSql =
    """prep AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> round(x::DOUBLE * 1000)::BIGINT) AS qv
      |  FROM embeddings),
      |p2 AS (
      |  SELECT vec_id, qv,
      |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS n2
      |  FROM prep)""".stripMargin

  private val dotSql =
    "list_sum(list_transform(list_zip(%s, %s), p -> p[1] * p[2]))::BIGINT"

  // Mirrors nearDupPairs incl. the degenerate-bucket cap: buckets with
  // 2..100 members generate candidates, the rest are dropped pre-pairing.
  private def embedNearDupOracle: String = {
    val sig = (0 until 12)
      .map(b => s"CASE WHEN qv[${b + 1}] >= 0 THEN ${1L << b} ELSE 0 END")
      .mkString(" + ")
    val dot = dotSql.format("a.qv", "b.qv")
    s"""WITH $prepSql,
       |s AS (SELECT vec_id, qv, n2, ($sig)::BIGINT AS sig FROM p2),
       |keep AS (
       |  SELECT sig FROM s GROUP BY sig HAVING count(*) BETWEEN 2 AND 100),
       |sk AS (SELECT s.* FROM s JOIN keep USING (sig)),
       |pairs AS (
       |  SELECT a.vec_id AS d1, b.vec_id AS d2,
       |    ($dot)::DOUBLE / sqrt((a.n2 * b.n2)::DOUBLE) AS cos
       |  FROM sk a JOIN sk b ON a.sig = b.sig AND a.vec_id < b.vec_id)
       |SELECT d1, d2, cos FROM pairs WHERE cos >= 0.25 ORDER BY d1, d2""".stripMargin
  }

  // Mirrors Assembly.weightedReplicas: same milli-weight CASE, same
  // whole//1000 + hash-fraction extra, same 0..k-1 replica unnest.
  // try_cast, not ::INT: a source not matching 'src[0-9]+' extracts ''
  // — Spark's cast null-coalesces into the ELSE branch while ''::INT
  // would ERROR in DuckDB; try_cast gives NULL % 3 = NULL → ELSE, the
  // same branch Spark takes.
  private def mixOracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, source,
       |    CASE try_cast(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 3
       |      WHEN 0 THEN 2500 WHEN 1 THEN 500 ELSE 1000 END AS wm
       |  FROM documents),
       |k AS (
       |  SELECT doc_id, source,
       |    (wm // 1000) + (CASE WHEN
       |      ${Hashing.h32Sql("'mix|' || doc_id::VARCHAR")} % 1000 < wm % 1000
       |      THEN 1 ELSE 0 END) AS k
       |  FROM w)
       |SELECT doc_id, source, unnest(range(k))::BIGINT AS replica
       |FROM k WHERE k > 0 ORDER BY doc_id, replica""".stripMargin

  // Mirrors Assembly.topTerms: identical integer ordering (tf DESC,
  // df ASC, token ASC).
  private def topTermsOracle: String =
    s"""WITH tf AS (
       |  SELECT doc_id, token, count(*)::BIGINT AS tf FROM (
       |    SELECT doc_id, unnest($tokensSql) AS token FROM documents)
       |  WHERE token IS NOT NULL
       |  GROUP BY doc_id, token),
       |wd AS (
       |  SELECT *, count(*) OVER (PARTITION BY token)::BIGINT AS df
       |  FROM tf),
       |r AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id
       |    ORDER BY tf DESC, df ASC, token ASC) AS rk FROM wd)
       |SELECT doc_id, rk::BIGINT AS rk, token, tf, df FROM r
       |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // Mirrors hammingNearDupPairs + the planted signature construction:
  // same h32 base, same CASE noise, same 12-bit banding (arithmetic >>
  // equals unsigned >> for these non-negative 48-bit values), same
  // [2,100] bucket cap, same bit_count(xor) <= 3 verify.
  private def phashNearDupOracle: String = {
    val base = s"${Hashing.h32Sql("'pg|' || (doc_id // 5)::VARCHAR")} * 65536 + " +
      s"(${Hashing.h32Sql("'pq|' || (doc_id // 5)::VARCHAR")} % 65536)"
    s"""WITH h AS (
       |  SELECT doc_id,
       |    xor(($base)::BIGINT,
       |      CASE doc_id % 5 WHEN 1 THEN 1 WHEN 2 THEN 3 WHEN 3 THEN 7
       |        WHEN 4 THEN 15 ELSE 0 END) AS phash
       |  FROM documents),
       |banded AS (
       |  SELECT doc_id, phash, b.band,
       |    (phash >> (b.band * 12)) & 4095 AS key
       |  FROM h, (SELECT unnest(range(4)) AS band) b),
       |keep AS (
       |  SELECT band, key FROM banded GROUP BY band, key
       |  HAVING count(*) BETWEEN 2 AND 100),
       |bounded AS (SELECT x.* FROM banded x JOIN keep USING (band, key)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |    a.phash AS h1, b.phash AS h2
       |  FROM bounded a JOIN bounded b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
       |SELECT d1, d2, bit_count(xor(h1, h2))::BIGINT AS dist FROM cand
       |WHERE bit_count(xor(h1, h2)) <= 3 ORDER BY d1, d2""".stripMargin
  }

  // Mirrors semDedup: rank-1 cell assignment (the annIvfOracle idiom),
  // cell-size cap, within-cell pairs with exact quantized cosine, losers
  // = higher id of any pair at/above threshold, survivors by anti-join.
  private def semDedupOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val pdot = dotSql.format("a.qv", "b.qv")
    s"""WITH $prepSql,
       |cents AS (SELECT vec_id AS c_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, qv, n2, c_id AS cell FROM (
       |    SELECT v.vec_id, v.qv, v.n2, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM p2 v, cents c)
       |  WHERE crk = 1),
       |keep AS (
       |  SELECT cell FROM assign GROUP BY cell
       |  HAVING count(*) BETWEEN 2 AND 400),
       |bounded AS (SELECT a.* FROM assign a JOIN keep USING (cell)),
       |losers AS (
       |  SELECT DISTINCT b.vec_id FROM bounded a JOIN bounded b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ($pdot)::DOUBLE / sqrt((a.n2 * b.n2)::DOUBLE) >= 0.35)
       |SELECT vec_id, cell FROM assign
       |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
       |ORDER BY vec_id""".stripMargin
  }

  /** The clustered-geometry fixture rebuilt closed-form in SQL
    * (Similarity.clusteredFixture/clusteredCentroids): vector i's
    * coordinate at pos is 1000·[pos%8 = i%8] + ((i·37 + pos·101) % 201)
    * − 100; centroids are the noise-free planted rows. Ends with
    * `cp2(vec_id, qv, n2)` and `ccent(c_id, qv, n2)`.
    */
  private val clusteredSql =
    """cfix AS (
      |  SELECT i AS vec_id,
      |    list(CASE WHEN pos % 8 = i % 8 THEN 1000 ELSE 0 END
      |         + ((i * 37 + pos * 101) % 201) - 100 ORDER BY pos) AS qv
      |  FROM range(512) t(i), range(16) u(pos) GROUP BY i),
      |cp2 AS (SELECT vec_id, qv,
      |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS n2
      |  FROM cfix),
      |ccfix AS (
      |  SELECT i AS c_id,
      |    list(CASE WHEN pos % 8 = i THEN 1000 ELSE 0 END
      |         ORDER BY pos) AS qv
      |  FROM range(8) t(i), range(16) u(pos) GROUP BY i),
      |ccent AS (SELECT c_id, qv,
      |    list_sum(list_transform(qv, x -> x * x))::BIGINT AS n2
      |  FROM ccfix)""".stripMargin

  // semDedupOracle over the clustered fixture at the production
  // threshold 0.85 (planted centroids instead of donor vectors)
  private def semDedupClusteredOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val pdot = dotSql.format("a.qv", "b.qv")
    s"""WITH $clusteredSql,
       |assign AS (
       |  SELECT vec_id, qv, n2, c_id AS cell FROM (
       |    SELECT v.vec_id, v.qv, v.n2, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM cp2 v, ccent c)
       |  WHERE crk = 1),
       |keep AS (
       |  SELECT cell FROM assign GROUP BY cell
       |  HAVING count(*) BETWEEN 2 AND 400),
       |bounded AS (SELECT a.* FROM assign a JOIN keep USING (cell)),
       |losers AS (
       |  SELECT DISTINCT b.vec_id FROM bounded a JOIN bounded b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE ($pdot)::DOUBLE / sqrt((a.n2 * b.n2)::DOUBLE) >= 0.85)
       |SELECT vec_id, cell FROM assign
       |WHERE vec_id NOT IN (SELECT vec_id FROM losers)
       |ORDER BY vec_id""".stripMargin
  }

  // annRecallOracle over the clustered fixture: planted centroids,
  // queries 8..12, recall@2 of 1-probe IVF vs brute force
  private def annRecallClusteredOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val pdot = dotSql.format("q.quv", "a.qv")
    val bdot = dotSql.format("q.quv", "c.qv")
    s"""WITH $clusteredSql,
       |assign AS (
       |  SELECT vec_id, qv, n2, c_id AS cell FROM (
       |    SELECT v.vec_id, v.qv, v.n2, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM cp2 v, ccent c)
       |  WHERE crk = 1),
       |qs AS (
       |  SELECT vec_id AS q_id, qv AS quv, n2 AS qn2, cell AS q_cell
       |  FROM assign WHERE vec_id BETWEEN 8 AND 12),
       |ivf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, a.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ($pdot)::DOUBLE / sqrt((q.qn2 * a.n2)::DOUBLE) DESC,
       |                 a.vec_id) AS rk
       |    FROM assign a JOIN qs q ON a.cell = q.q_cell
       |    WHERE a.vec_id <> q.q_id)
       |  WHERE rk <= 2),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ($bdot)::DOUBLE / sqrt((q.qn2 * c.n2)::DOUBLE) DESC,
       |                 c.vec_id) AS rk
       |    FROM qs q, cp2 c
       |    WHERE c.vec_id <> q.q_id)
       |  WHERE rk <= 2)
       |SELECT e.q_id,
       |  count(*)::BIGINT AS n_true,
       |  sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       |  ((sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
       |    // count(*))::BIGINT AS recall_milli
       |FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.n_id = i.n_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
  }

  // Mirrors Similarity.semDedupAudited's audit frame: same nearest-
  // centroid assignment as semDedupOracle, capped-cell count + vector
  // sum at maxCell = 50.
  private def semDedupAuditOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    s"""WITH $prepSql,
       |cents AS (SELECT vec_id AS c_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, c_id AS cell FROM (
       |    SELECT v.vec_id, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM p2 v, cents c)
       |  WHERE crk = 1),
       |cs AS (SELECT cell, count(*)::BIGINT AS cell_size
       |       FROM assign GROUP BY cell)
       |SELECT count(*)::BIGINT AS n_capped_cells,
       |  coalesce(sum(cell_size), 0)::BIGINT AS n_unexamined_vectors
       |FROM cs WHERE cell_size > 50""".stripMargin
  }

  // Mirrors q_para_dedup end to end: the same 12-token segmentation, the
  // same md5 paragraph key, first occurrence at global (doc_id, pos)
  // order, documents reassembled in position order. Zero-token docs
  // can't occur with the FILTERed unnest — resurrected via left join.
  // `src` parameterizes the input relation so the composed pipeline
  // oracle (q_assembly) can run the identical CTE chain over its gated
  // subset.
  // dedup tail shared by every segmentation (12-token fixed stride and
  // content-defined chunks): expects a `par(doc_id, pos, para)` CTE.
  private def paraDedupTailSql: String =
    """flagged AS (
      |  SELECT doc_id, pos, para,
      |    row_number() OVER (PARTITION BY md5(para)
      |      ORDER BY doc_id, pos) AS rn
      |  FROM par),
      |agg AS (
      |  SELECT doc_id, count(*)::BIGINT AS n_paras,
      |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
      |    md5(coalesce(array_to_string(
      |      list(para ORDER BY pos) FILTER (WHERE rn = 1), ' '), ''))
      |      AS clean_md5
      |  FROM flagged GROUP BY doc_id)""".stripMargin

  private def paraDedupSql(src: String): String =
    s"""tk AS (
       |  SELECT doc_id, $tokensSql AS tks FROM $src),
       |seg AS (
       |  SELECT doc_id, unnest(range(0, (len(tks) + 11) // 12)) AS i, tks
       |  FROM tk),
       |par AS (
       |  SELECT doc_id, i AS pos,
       |    array_to_string(tks[i * 12 + 1 : i * 12 + 12], ' ') AS para
       |  FROM seg),
       |$paraDedupTailSql""".stripMargin

  private def paraDedupOracle: String =
    s"""WITH ${paraDedupSql("documents")}
       |SELECT t.doc_id, coalesce(a.n_paras, 0)::BIGINT AS n_paras,
       |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(a.clean_md5, md5('')) AS clean_md5
       |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin

  // Mirrors TextAnalysis.cdcSegments + Paragraphs.dedupParagraphs: the
  // same h32 % 16 boundary rule, the same shared dedup tail.
  private def cdcDedupOracle: String = {
    val h = Hashing.h32Sql("tks[i]")
    s"""WITH tk AS (
       |  SELECT doc_id, $tokensSql AS tks FROM documents),
       |bp AS (
       |  SELECT doc_id, tks,
       |    list_filter(range(1, len(tks) + 1), i -> $h % 16 = 0) AS bpos
       |  FROM tk),
       |se AS (
       |  SELECT doc_id, tks,
       |    list_prepend(1, list_transform(bpos, b -> b + 1)) AS starts,
       |    list_append(bpos, len(tks)) AS ends
       |  FROM bp),
       |par0 AS (
       |  SELECT doc_id, unnest(range(1, len(starts) + 1)) AS j,
       |    tks, starts, ends
       |  FROM se),
       |par AS (
       |  SELECT doc_id, j - 1 AS pos,
       |    array_to_string(tks[starts[j] : ends[j]], ' ') AS para
       |  FROM par0 WHERE starts[j] <= ends[j]),
       |$paraDedupTailSql
       |SELECT t.doc_id, coalesce(a.n_paras, 0)::BIGINT AS n_paras,
       |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(a.clean_md5, md5('')) AS clean_md5
       |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // Mirrors gopherGate: every threshold the same exact-integer
  // cross-multiplication; max token frequency via the naive
  // count-per-distinct (same integers as Spark's sorted run fold).
  // The five rule fragments (and the conjunction, reused by the
  // composed q_assembly oracle) are built once here.
  private lazy val gopherRulesSql: Seq[String] = {
    val n = s"len($tokensSql)"
    val chars = s"list_sum(list_transform($tokensSql, t -> len(t)))"
    val nBi = s"($n - 1)"
    val nDistBi = s"len(list_distinct(list_transform(range(1, $n), " +
      s"i -> $tokensSql[i] || ' ' || $tokensSql[i + 1])))"
    val maxRun = s"list_max(list_transform($dtokensSql, " +
      s"w -> len(list_filter($tokensSql, t -> t = w))))"
    val stops = s"len(list_filter($tokensSql, t -> t IN ($stopSql)))"
    Seq(
      s"($n BETWEEN 20 AND 500)",
      s"($n > 0 AND $chars >= $n * 3 AND $chars <= $n * 10)",
      s"($nBi <= 0 OR ($nBi - $nDistBi) * 10 <= $nBi * 3)",
      s"($n > 0 AND $maxRun * 5 <= $n)",
      s"($stops >= 1)")
  }

  private def gopherKeptSql: String =
    gopherRulesSql.mkString("(", "\n    AND ", ")")

  /** Mirrors [[toxAug]]'s injected boilerplate; `%` == pmod here
    * because doc_id is non-negative.
    */
  private def toxAugSql =
    s"text || CASE WHEN doc_id % 10 < 3 THEN '$toxBoiler' ELSE '' END"

  /** The SAME compiled alternation pattern as the Spark side (terms are
    * [a-z0-9]+ so Java regex and RE2 agree; DuckDB single-quoted
    * strings pass the backslashes through literally).
    */
  private def toxPatternSql = Toxicity.compile(Toxicity.DefaultTerms)

  private def toxicityRelationalOracle: String = {
    val termsList = Toxicity.DefaultTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH aug AS (SELECT doc_id, source, $toxAugSql AS t FROM documents),
       |tk AS (SELECT doc_id, unnest(string_split(lower(t), ' ')) AS tok
       |  FROM aug),
       |h AS (SELECT doc_id, count(*)::BIGINT AS n_hits,
       |    count(DISTINCT tok)::BIGINT AS n_terms
       |  FROM tk WHERE tok IN ($termsList) GROUP BY doc_id)
       |SELECT a.doc_id, a.source,
       |  CASE WHEN a.t IS NULL THEN NULL
       |       ELSE coalesce(h.n_hits, 0) END AS n_hits,
       |  CASE WHEN a.t IS NULL THEN NULL
       |       ELSE coalesce(h.n_terms, 0) END AS n_terms,
       |  CASE WHEN a.t IS NULL THEN NULL
       |       ELSE coalesce(h.n_hits, 0) > 0 END AS toxic
       |FROM aug a LEFT JOIN h USING (doc_id)
       |ORDER BY a.doc_id""".stripMargin
  }

  private def toxicityGateOracle: String =
    s"""WITH aug AS (SELECT doc_id, source, $toxAugSql AS t FROM documents),
       |g AS (SELECT doc_id, source,
       |    len(regexp_extract_all(lower(t), '$toxPatternSql', 1))::BIGINT
       |      AS n_hits,
       |    len(list_distinct(regexp_extract_all(lower(t), '$toxPatternSql',
       |      1)))::BIGINT AS n_terms
       |  FROM aug)
       |SELECT doc_id, source, n_hits, n_terms, n_hits > 0 AS toxic
       |FROM g ORDER BY doc_id""".stripMargin

  private def toxicitySourcesOracle: String =
    s"""WITH aug AS (SELECT doc_id, source, $toxAugSql AS t FROM documents),
       |g AS (SELECT source,
       |    len(regexp_extract_all(lower(t), '$toxPatternSql', 1))::BIGINT
       |      AS hits
       |  FROM aug)
       |SELECT source, count(*)::BIGINT AS n_docs,
       |  sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)::BIGINT AS n_toxic,
       |  coalesce(sum(hits), 0)::BIGINT AS n_hits,
       |  (sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) * 1000 // count(*))
       |    ::BIGINT AS toxic_milli
       |FROM g GROUP BY source ORDER BY source""".stripMargin

  /** The boilerplate CTE stack h→a over any source with (doc_id, text):
    * synthetic HTML wrap, block split, per-block strip/score, per-doc
    * reassembly — `a` ends with (doc_id, n_blocks, n_kept, total, kept,
    * clean_text). Shared by q_boilerplate and the q_c4_pipeline
    * composition.
    */
  private def bpCteStack(fromSql: String): String = {
    val sp = graft.ext.Boilerplate.splitPattern()
    val tag = graft.ext.Boilerplate.TagPattern
    val anchor = graft.ext.Boilerplate.AnchorPattern
    s"""h AS (SELECT doc_id, '$bpNav' || text || '</div>' ||
       |    CASE WHEN doc_id % 4 = 0 THEN '$bpAd' ELSE '' END || '$bpFoot'
       |    AS html FROM $fromSql),
       |f AS (SELECT doc_id, string_split_regex(html, '$sp') AS frags
       |  FROM h),
       |b AS (SELECT doc_id,
       |    unnest(range(1, len(frags) + 1)) - 1 AS pos,
       |    unnest(frags) AS blk FROM f),
       |p AS (SELECT doc_id, pos,
       |    trim(regexp_replace(regexp_replace(blk, '$tag', ' ', 'g'),
       |      ' +', ' ', 'g')) AS btext,
       |    length(coalesce(array_to_string(
       |      regexp_extract_all(blk, '$anchor', 1), ''), ''))::BIGINT
       |      AS link_chars
       |  FROM b),
       |q AS (SELECT doc_id, pos, btext, length(btext)::BIGINT AS tc,
       |    link_chars,
       |    (length(btext) >= 10 AND
       |     link_chars * 1000 < 400 * length(btext)) AS keep
       |  FROM p WHERE btext <> ''),
       |a AS (SELECT doc_id,
       |    count(*)::BIGINT AS n_blocks,
       |    sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |    sum(tc)::BIGINT AS total,
       |    coalesce(sum(tc) FILTER (WHERE keep), 0)::BIGINT AS kept,
       |    coalesce(string_agg(btext, ' ' ORDER BY pos)
       |      FILTER (WHERE keep), '') AS clean_text
       |  FROM q GROUP BY doc_id)""".stripMargin
  }

  private def boilerplateOracle: String =
    s"""WITH ${bpCteStack("documents")}
       |SELECT doc_id, n_blocks, n_kept,
       |  ((total - kept) * 1000 // total)::BIGINT AS boiler_milli,
       |  clean_text
       |FROM a ORDER BY doc_id""".stripMargin

  // the raw-WARC twin: identical pages rebuilt in SQL from the
  // documents table, keyed by the fixture's closed-form page url
  private def warcBoilerplateOracle: String =
    s"""WITH d AS (SELECT doc_id, text FROM documents
       |           WHERE doc_id IS NOT NULL),
       |${bpCteStack("d")}
       |SELECT 'https://docs.test/doc' || doc_id::VARCHAR || '.html'
       |    AS page_url,
       |  n_blocks, n_kept,
       |  ((total - kept) * 1000 // total)::BIGINT AS boiler_milli,
       |  clean_text
       |FROM a ORDER BY page_url""".stripMargin

  /** The composed C4-style curation chain: toxic-injected text →
    * synthetic HTML → boilerplate strip → blocklist gate on the
    * recovered body → Gopher quality gate (clean_text presented AS
    * `text` so [[gopherKeptSql]] applies verbatim) → min-doc_id exact
    * content dedup. One oracle over the whole composition.
    */
  /** The curation FRONT HALF (strip → non-empty → blocklist) — the
    * stream path's oracle. Docs absent from `a` (html strips to no
    * content-bearing block) and docs whose kept text is '' both fail
    * the stream gate's `length > 0`, so the batch-side filter is
    * `clean_text <> ''` over the boilerplate CTE stack.
    */
  private def curationStreamOracle: String =
    s"""WITH aug AS (SELECT doc_id, source, $toxAugSql AS text
       |  FROM documents),
       |${bpCteStack("aug")}
       |SELECT doc_id, clean_text FROM a
       |WHERE clean_text <> '' AND
       |  len(regexp_extract_all(lower(clean_text), '$toxPatternSql', 1)) = 0
       |ORDER BY doc_id""".stripMargin

  private def c4PipelineOracle: String =
    s"""WITH aug AS (SELECT doc_id, source, $toxAugSql AS text
       |  FROM documents),
       |${bpCteStack("aug")},
       |d2 AS (SELECT a.doc_id, ag.source, a.clean_text AS text
       |  FROM a JOIN aug ag USING (doc_id)),
       |t1 AS (SELECT * FROM d2
       |  WHERE len(regexp_extract_all(lower(text), '$toxPatternSql', 1)) = 0),
       |t2 AS (SELECT * FROM t1 WHERE $gopherKeptSql),
       |wf AS (SELECT doc_id, source, md5(text) AS fp,
       |    len($tokensSql)::BIGINT AS n_tokens FROM t2),
       |sv AS (SELECT fp, min(doc_id) AS doc_id FROM wf GROUP BY fp)
       |SELECT w.doc_id, w.source, w.fp, w.n_tokens
       |FROM wf w JOIN sv ON w.doc_id = sv.doc_id AND w.fp = sv.fp
       |ORDER BY w.doc_id""".stripMargin

  private def gopherGateOracle: String = {
    val Seq(rLen, rWordLen, rDupBigram, rTopShare, rStopword) =
      gopherRulesSql
    s"""SELECT doc_id,
       |  $rLen AS r_len,
       |  $rWordLen AS r_word_len,
       |  $rDupBigram AS r_dup_bigram,
       |  $rTopShare AS r_top_share,
       |  $rStopword AS r_stopword,
       |  $gopherKeptSql AS kept
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // Mirrors q_url_canon: same synthesized URLs, same canonicalization
  // steps (lowercase scheme/host, default-port strip, fragment drop,
  // tracking-param filter, param sort, empty path -> "/"), same
  // min-doc_id survivor rule.
  private def urlCanonOracle: String =
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 7 = 0 THEN
       |      'http://Mixed.Case.test:80/p/' || (doc_id // 2)::VARCHAR || '#x'
       |    WHEN doc_id % 2 = 0 THEN
       |      'https://WWW.example.test:443/a/b?z=1&g=' ||
       |        (doc_id // 2)::VARCHAR || '&a=2&utm_source=f'
       |    ELSE
       |      'https://www.example.test/a/b?a=2&gclid=x&g=' ||
       |        (doc_id // 2)::VARCHAR || '&z=1' END AS url
       |  FROM documents),
       |parts AS (
       |  SELECT doc_id,
       |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1))
       |      AS scheme,
       |    lower(regexp_extract(url,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS h0,
       |    regexp_extract(url,
       |      '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
       |    list_sort(list_filter(
       |      string_split(regexp_extract(url, '^[^?#]*\\?([^#]*)', 1), '&'),
       |      p -> p <> '' AND NOT regexp_matches(p,
       |        '^(utm_[a-z]+|gclid|fbclid|msclkid|mc_eid|ref)=')))
       |      AS kept_params
       |  FROM u),
       |canon AS (
       |  SELECT doc_id,
       |    scheme || '://' ||
       |    (CASE WHEN scheme = 'http' AND h0 LIKE '%:80'
       |       THEN substr(h0, 1, len(h0) - 3)
       |     WHEN scheme = 'https' AND h0 LIKE '%:443'
       |       THEN substr(h0, 1, len(h0) - 4)
       |     ELSE h0 END) ||
       |    (CASE WHEN path = '' THEN '/' ELSE path END) ||
       |    (CASE WHEN len(kept_params) > 0
       |       THEN '?' || array_to_string(kept_params, '&')
       |     ELSE '' END) AS canon
       |  FROM parts)
       |SELECT doc_id, canon,
       |  (row_number() OVER (PARTITION BY canon ORDER BY doc_id) = 1)
       |    AS is_canon
       |FROM canon ORDER BY doc_id""".stripMargin

  // Two unrolled Lloyd rounds, each: rank-1 cell assignment (cosine DESC,
  // centroid id ASC — the argmax tie-break ivfAssign uses), then exact
  // per-(cell, dim) integer means with TRUNCATING division (DuckDB `//`
  // floors, so negative sums route through -((-sx) // nx) to match
  // Spark's `div`); cells that empty out or cancel to the zero vector
  // drop. sum(BIGINT) is HUGEINT in DuckDB — cast the mean back.
  private def kmeansOracle: String = {
    def assign(cents: String, out: String): String = {
      val adot = dotSql.format("v.qv", "c.qv")
      s"""$out AS (
         |  SELECT vec_id, qv, cell FROM (
         |    SELECT v.vec_id, v.qv, c.vec_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
         |                 c.vec_id) AS crk
         |    FROM p2 v, $cents c)
         |  WHERE crk = 1)""".stripMargin
    }
    def step(a: String, out: String): String =
      s"""${out}d AS (
         |  SELECT cell, pos,
         |    (CASE WHEN sum(x) >= 0 THEN sum(x) // count(*)
         |          ELSE -((-sum(x)) // count(*)) END)::BIGINT AS m
         |  FROM (SELECT cell, unnest(range(1, len(qv) + 1)) AS pos,
         |          unnest(qv) AS x FROM $a)
         |  GROUP BY cell, pos),
         |${out}l AS (
         |  SELECT cell AS vec_id, list(m ORDER BY pos) AS qv
         |  FROM ${out}d GROUP BY cell),
         |$out AS (
         |  SELECT vec_id, qv,
         |    list_sum(list_transform(qv, y -> y * y))::BIGINT AS n2
         |  FROM ${out}l
         |  WHERE list_sum(list_transform(qv, y -> y * y)) > 0)""".stripMargin
    s"""WITH $prepSql,
       |c0 AS (SELECT vec_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |${assign("c0", "a1")},
       |${step("a1", "c1")},
       |${assign("c1", "a2")},
       |${step("a2", "c2")}
       |SELECT vec_id AS cell, pos::BIGINT AS pos, m FROM (
       |  SELECT vec_id, unnest(range(1, len(qv) + 1)) AS pos,
       |    unnest(qv) AS m FROM c2)
       |ORDER BY cell, pos""".stripMargin
  }

  private val pqD2Sql =
    "list_sum(list_transform(list_zip(%s, %s), p -> (p[1]-p[2])*(p[1]-p[2])))"

  /** Two unrolled L2 Lloyd rounds per subspace over the clustered
    * fixture — mirrors Similarity.pqTrainCodebooks exactly: init =
    * the first 16 donors (cb0, the SAMPLED codebook), assign by exact
    * squared L2 with the code tie-break, recompute = elementwise
    * integer mean with truncation toward zero (DuckDB `//` floors, so
    * negative sums need the CASE — same trick as kmeansOracle). Ends
    * with `sub(vec_id, sub_id, sv)`, `cb0` (sampled) and `cb2`
    * (trained).
    */
  private def pqTrainedCbSql: String = {
    def assign(cb: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, sub_id, sv, code FROM (
         |    SELECT v.vec_id, v.sub_id, v.sv, c.code,
         |      row_number() OVER (PARTITION BY v.vec_id, v.sub_id
         |        ORDER BY ${pqD2Sql.format("v.sv", "c.cv")}, c.code) AS crk
         |    FROM sub v JOIN $cb c ON v.sub_id = c.sub_id)
         |  WHERE crk = 1)""".stripMargin
    def step(a: String, out: String): String =
      s"""${out}d AS (
         |  SELECT sub_id, code, pos,
         |    (CASE WHEN sum(x) >= 0 THEN sum(x) // count(*)
         |          ELSE -((-sum(x)) // count(*)) END)::BIGINT AS m
         |  FROM (SELECT sub_id, code, unnest(range(1, len(sv) + 1)) AS pos,
         |          unnest(sv) AS x FROM $a)
         |  GROUP BY sub_id, code, pos),
         |$out AS (
         |  SELECT sub_id, code, list(m ORDER BY pos) AS cv
         |  FROM ${out}d GROUP BY sub_id, code)""".stripMargin
    s"""sub AS (
       |  SELECT vec_id, s.sub_id,
       |    qv[(s.sub_id*(len(qv)//4))+1 : (s.sub_id+1)*(len(qv)//4)] AS sv
       |  FROM cp2, (SELECT unnest(range(4)) AS sub_id) s),
       |cb0 AS (
       |  SELECT sub_id, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 16),
       |${assign("cb0", "a1")},
       |${step("a1", "cb1")},
       |${assign("cb1", "a2")},
       |${step("a2", "cb2")}""".stripMargin
  }

  /** PQ encode + ADC top-3 against codebook `cb` (queries 8..12), as
    * CTEs prefixed `$pre`; ends with `${pre}top(q_id, n_id, ad2, rk)`.
    */
  private def pqAdcSql(cb: String, pre: String): String =
    s"""${pre}enc AS (
       |  SELECT vec_id, sub_id, code FROM (
       |    SELECT v.vec_id, v.sub_id, c.code,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub_id
       |        ORDER BY ${pqD2Sql.format("v.sv", "c.cv")}, c.code) AS crk
       |    FROM sub v JOIN $cb c ON v.sub_id = c.sub_id)
       |  WHERE crk = 1),
       |${pre}tbl AS (
       |  SELECT q.vec_id AS q_id, q.sub_id, c.code,
       |    (${pqD2Sql.format("q.sv", "c.cv")})::BIGINT AS td2
       |  FROM sub q JOIN $cb c ON q.sub_id = c.sub_id
       |  WHERE q.vec_id BETWEEN 8 AND 31),
       |${pre}ad AS (
       |  SELECT t.q_id, e.vec_id AS n_id, sum(t.td2)::BIGINT AS ad2
       |  FROM ${pre}enc e JOIN ${pre}tbl t
       |    ON e.sub_id = t.sub_id AND e.code = t.code
       |  WHERE e.vec_id <> t.q_id
       |  GROUP BY 1, 2),
       |${pre}top AS (
       |  SELECT q_id, n_id, ad2, rk FROM (
       |    SELECT q_id, n_id, ad2,
       |      row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rk
       |    FROM ${pre}ad)
       |  WHERE rk <= 3)""".stripMargin

  // IVF-PQ with the trained codebook: the coarse planted-centroid
  // assignment (annRecallClusteredOracle's CTE) composed with the
  // trained encode/ADC chain and the cell-consistency predicate
  private def annIvfPqTrainedOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    s"""WITH $clusteredSql,
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM cp2 v, ccent c)
       |  WHERE crk = 1),
       |$pqTrainedCbSql,
       |enc AS (
       |  SELECT vec_id, sub_id, code FROM (
       |    SELECT v.vec_id, v.sub_id, c.code,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub_id
       |        ORDER BY ${pqD2Sql.format("v.sv", "c.cv")}, c.code) AS crk
       |    FROM sub v JOIN cb2 c ON v.sub_id = c.sub_id)
       |  WHERE crk = 1),
       |tbl AS (
       |  SELECT q.vec_id AS q_id, q.sub_id, c.code,
       |    (${pqD2Sql.format("q.sv", "c.cv")})::BIGINT AS td2,
       |    qa.cell AS q_cell
       |  FROM sub q JOIN cb2 c ON q.sub_id = c.sub_id
       |  JOIN assign qa ON qa.vec_id = q.vec_id
       |  WHERE q.vec_id BETWEEN 8 AND 31),
       |ad AS (
       |  SELECT t.q_id, e.vec_id AS n_id, sum(t.td2)::BIGINT AS ad2
       |  FROM enc e
       |  JOIN assign na ON na.vec_id = e.vec_id
       |  JOIN tbl t ON e.sub_id = t.sub_id AND e.code = t.code
       |  WHERE e.vec_id <> t.q_id AND na.cell = t.q_cell
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, ad2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rk
       |  FROM ad)
       |SELECT q_id, rk::BIGINT AS rk, n_id, ad2 FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  // trained-PQ ADC top-k: the trained codebook (cb2) through the same
  // encode/ADC tail as annPqOracle
  private def annPqTrainedOracle: String =
    s"""WITH $clusteredSql,
       |$pqTrainedCbSql,
       |${pqAdcSql("cb2", "t_")}
       |SELECT q_id, rk::BIGINT AS rk, n_id, ad2 FROM t_top
       |ORDER BY q_id, rk""".stripMargin

  // recall@3 scorecard: sampled (cb0) vs trained (cb2) codebook, both
  // against brute-force cosine ground truth on the same queries
  private def annPqRecallOracle: String = {
    val bdot = dotSql.format("q.qv", "c.qv")
    def recall(top: String, as: String): String =
      s"""  ((sum(CASE WHEN $top.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
         |    // count(*))::BIGINT AS $as""".stripMargin
    s"""WITH $clusteredSql,
       |$pqTrainedCbSql,
       |${pqAdcSql("cb0", "s_")},
       |${pqAdcSql("cb2", "t_")},
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ($bdot)::DOUBLE / sqrt((q.n2 * c.n2)::DOUBLE) DESC,
       |                 c.vec_id) AS rk
       |    FROM cp2 q, cp2 c
       |    WHERE q.vec_id BETWEEN 8 AND 31 AND c.vec_id <> q.vec_id)
       |  WHERE rk <= 3),
       |rs AS (
       |  SELECT e.q_id,
       |${recall("i", "recall_sampled_milli")}
       |  FROM exact e LEFT JOIN s_top i
       |    ON e.q_id = i.q_id AND e.n_id = i.n_id
       |  GROUP BY e.q_id),
       |rt AS (
       |  SELECT e.q_id,
       |${recall("i", "recall_trained_milli")}
       |  FROM exact e LEFT JOIN t_top i
       |    ON e.q_id = i.q_id AND e.n_id = i.n_id
       |  GROUP BY e.q_id)
       |SELECT rs.q_id, recall_sampled_milli, recall_trained_milli
       |FROM rs JOIN rt ON rs.q_id = rt.q_id ORDER BY rs.q_id""".stripMargin
  }

  // Mirrors pqSubvectors/pqCodebook/pqEncode/pqTopK: same donor set,
  // same argmin tie-break (d2 then code), same ADC sum. list_sum over
  // BIGINT is HUGEINT in DuckDB — cast at every aggregate boundary.
  private def annPqOracle: String = {
    val d2 = "list_sum(list_transform(list_zip(%s, %s), p -> (p[1]-p[2])*(p[1]-p[2])))"
    s"""WITH $prepSql,
       |sub AS (
       |  SELECT vec_id, s.sub_id,
       |    qv[(s.sub_id*(len(qv)//4))+1 : (s.sub_id+1)*(len(qv)//4)] AS sv
       |  FROM p2, (SELECT unnest(range(4)) AS sub_id) s),
       |cb AS (
       |  SELECT sub_id, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 16),
       |enc AS (
       |  SELECT vec_id, sub_id, code FROM (
       |    SELECT v.vec_id, v.sub_id, c.code,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub_id
       |        ORDER BY ${d2.format("v.sv", "c.cv")}, c.code) AS crk
       |    FROM sub v JOIN cb c ON v.sub_id = c.sub_id)
       |  WHERE crk = 1),
       |tbl AS (
       |  SELECT q.vec_id AS q_id, q.sub_id, c.code,
       |    (${d2.format("q.sv", "c.cv")})::BIGINT AS td2
       |  FROM sub q JOIN cb c ON q.sub_id = c.sub_id
       |  WHERE q.vec_id < 5),
       |ad AS (
       |  SELECT t.q_id, e.vec_id AS n_id, sum(t.td2)::BIGINT AS ad2
       |  FROM enc e JOIN tbl t ON e.sub_id = t.sub_id AND e.code = t.code
       |  WHERE e.vec_id <> t.q_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, ad2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rk
       |  FROM ad)
       |SELECT q_id, rk::BIGINT AS rk, n_id, ad2 FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  /** IVF assign CTEs (annIvfOracle's) + PQ ADC CTEs (annPqOracle's)
    * with the cell-consistency predicate — the IVF-PQ composition.
    */
  private def annIvfPqOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val d2 = "list_sum(list_transform(list_zip(%s, %s), p -> (p[1]-p[2])*(p[1]-p[2])))"
    s"""WITH $prepSql,
       |cents AS (SELECT vec_id AS c_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.c_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM p2 v, cents c)
       |  WHERE crk = 1),
       |sub AS (
       |  SELECT vec_id, s.sub_id,
       |    qv[(s.sub_id*(len(qv)//4))+1 : (s.sub_id+1)*(len(qv)//4)] AS sv
       |  FROM p2, (SELECT unnest(range(4)) AS sub_id) s),
       |cb AS (
       |  SELECT sub_id, vec_id AS code, sv AS cv FROM sub WHERE vec_id < 16),
       |enc AS (
       |  SELECT vec_id, sub_id, code FROM (
       |    SELECT v.vec_id, v.sub_id, c.code,
       |      row_number() OVER (PARTITION BY v.vec_id, v.sub_id
       |        ORDER BY ${d2.format("v.sv", "c.cv")}, c.code) AS crk
       |    FROM sub v JOIN cb c ON v.sub_id = c.sub_id)
       |  WHERE crk = 1),
       |tbl AS (
       |  SELECT q.vec_id AS q_id, q.sub_id, c.code,
       |    (${d2.format("q.sv", "c.cv")})::BIGINT AS td2
       |  FROM sub q JOIN cb c ON q.sub_id = c.sub_id
       |  WHERE q.vec_id BETWEEN 8 AND 12),
       |qc AS (SELECT vec_id AS q_id, cell AS q_cell FROM assign
       |       WHERE vec_id BETWEEN 8 AND 12),
       |ad AS (
       |  SELECT t.q_id, e.vec_id AS n_id, sum(t.td2)::BIGINT AS ad2
       |  FROM enc e
       |  JOIN tbl t ON e.sub_id = t.sub_id AND e.code = t.code
       |  JOIN qc ON qc.q_id = t.q_id
       |  JOIN assign nc ON nc.vec_id = e.vec_id
       |  WHERE e.vec_id <> t.q_id AND nc.cell = qc.q_cell
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT q_id, n_id, ad2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY ad2, n_id) AS rk
       |  FROM ad)
       |SELECT q_id, rk::BIGINT AS rk, n_id, ad2 FROM ranked WHERE rk <= 3
       |ORDER BY q_id, rk""".stripMargin
  }

  private def cosineTopkOracle: String = {
    val dot = dotSql.format("q.qv", "c.qv")
    s"""WITH $prepSql,
       |pairs AS (
       |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
       |    ($dot)::DOUBLE / sqrt((q.n2 * c.n2)::DOUBLE) AS cos
       |  FROM p2 q, p2 c
       |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
       |  FROM pairs)
       |SELECT q_id, rk::BIGINT AS rk, n_id, cos FROM ranked
       |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin
  }

  private def annIvfOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val pdot = dotSql.format("q.quv", "a.qv")
    s"""WITH $prepSql,
       |cents AS (SELECT vec_id AS c_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, qv, n2, c_id AS cell FROM (
       |    SELECT v.vec_id, v.qv, v.n2, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM p2 v, cents c)
       |  WHERE crk = 1),
       |qs AS (
       |  SELECT vec_id AS q_id, qv AS quv, n2 AS qn2, cell AS q_cell
       |  FROM assign WHERE vec_id BETWEEN 8 AND 12),
       |pairs AS (
       |  SELECT q.q_id, a.vec_id AS n_id,
       |    ($pdot)::DOUBLE / sqrt((q.qn2 * a.n2)::DOUBLE) AS cos
       |  FROM assign a JOIN qs q ON a.cell = q.q_cell
       |  WHERE a.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
       |  FROM pairs)
       |SELECT q_id, rk::BIGINT AS rk, n_id, cos FROM ranked
       |WHERE rk <= 2 ORDER BY q_id, rk""".stripMargin
  }

  // Directed containment: q_ngram_jaccard's bigram-shingle index without
  // the length bucketing (the container may be any size), df via
  // groupBy-join (not window), both endpoints gated on minGrams.
  private def containmentOracle: String = {
    val gram = s"$tokensSql[i] || ' ' || $tokensSql[i + 1]"
    s"""WITH d AS (
       |  SELECT doc_id, lang,
       |    list_distinct(list_transform(
       |      list_transform(range(1, len($tokensSql)), i -> $gram),
       |      x -> ${Hashing.h32Sql("x")})) AS hs
       |  FROM documents),
       |ex0 AS (SELECT doc_id, lang, unnest(hs) AS s FROM d),
       |dfs AS (SELECT lang, s, count(*) AS df FROM ex0 GROUP BY 1, 2),
       |ex AS (
       |  SELECT e.doc_id, e.lang, e.s FROM ex0 e
       |  JOIN dfs f ON e.lang = f.lang AND e.s = f.s WHERE f.df <= 8),
       |sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ex GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS inter_size
       |  FROM ex a JOIN ex b ON a.lang = b.lang AND a.s = b.s
       |  WHERE a.doc_id <> b.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.d1, i.d2, i.inter_size, z1.sz AS sz1,
       |  ((i.inter_size * 1000) // z1.sz)::BIGINT AS contain_milli
       |FROM inter i
       |JOIN sz z1 ON z1.doc_id = i.d1 AND z1.sz >= 3
       |JOIN sz z2 ON z2.doc_id = i.d2 AND z2.sz >= 3
       |WHERE ((i.inter_size * 1000) // z1.sz) >= 600
       |ORDER BY d1, d2""".stripMargin
  }

  // Char-bigram OOV rate vs the held-out doc_id % 10 = 0 vocabulary;
  // range(1, length) mirrors the Spark sequence(1, length-1) guard.
  private def oovBigramsOracle: String =
    """WITH bi AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NOT NULL AND length(text) >= 2
      |      THEN list_distinct(list_transform(range(1, length(text)),
      |        i -> substr(text, i, 2)))
      |      ELSE []::VARCHAR[] END AS bs
      |  FROM documents),
      |ex AS (SELECT doc_id, unnest(bs) AS b FROM bi),
      |vocab AS (SELECT DISTINCT b FROM ex WHERE doc_id % 10 = 0),
      |agg AS (
      |  SELECT e.doc_id, count(*)::BIGINT AS n_bi,
      |    sum(CASE WHEN v.b IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov
      |  FROM ex e LEFT JOIN vocab v ON e.b = v.b
      |  GROUP BY 1)
      |SELECT d.doc_id,
      |  coalesce(a.n_bi, 0)::BIGINT AS n_bi,
      |  coalesce(a.n_oov, 0)::BIGINT AS n_oov,
      |  coalesce((a.n_oov * 1000) // a.n_bi, 0)::BIGINT AS oov_milli
      |FROM documents d LEFT JOIN agg a ON d.doc_id = a.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // Winnowing: ordered 3-grams with 0-based positions (struct-unnest for
  // ordinality), sliding 4-window min over h*2^20+pos, full windows
  // only, distinct decoded hashes, df cutoff, shared-fp pair count.
  private def winnowOracle: String = {
    val gram = "tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]"
    s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |g0 AS (
       |  SELECT doc_id,
       |    CASE WHEN len(tk) - 2 > 0
       |      THEN list_transform(range(1, len(tk) - 1), i -> $gram)
       |      ELSE []::VARCHAR[] END AS gs
       |  FROM tk),
       |eu AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(gs) + 1),
       |    i -> {'i': i, 'g': gs[i]})) AS u
       |  FROM g0),
       |e AS (
       |  SELECT doc_id, u.i - 1 AS pos,
       |    ${Hashing.h32Sql("u.g")} AS h
       |  FROM eu),
       |wmin AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS n,
       |    min(h * 1048576 + pos) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS we
       |  FROM e),
       |fps AS (
       |  SELECT DISTINCT doc_id, (we // 1048576)::BIGINT AS fp
       |  FROM wmin WHERE pos <= n - 4),
       |dfs AS (SELECT fp, count(*) AS df FROM fps GROUP BY 1),
       |kept AS (
       |  SELECT f.doc_id, f.fp FROM fps f JOIN dfs USING (fp)
       |  WHERE df <= 8)
       |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS n_shared
       |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |GROUP BY 1, 2 HAVING count(*) >= 2 ORDER BY d1, d2""".stripMargin
  }

  // Recall@2 of 1-probe IVF vs brute-force ground truth: the ivf CTEs
  // mirror annIvfOracle, the exact side cosineTopkOracle's pair scan
  // restricted to the same query sample; integer milli-recall via //.
  private def annRecallOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val pdot = dotSql.format("q.quv", "a.qv")
    val bdot = dotSql.format("q.quv", "c.qv")
    s"""WITH $prepSql,
       |cents AS (SELECT vec_id AS c_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |assign AS (
       |  SELECT vec_id, qv, n2, c_id AS cell FROM (
       |    SELECT v.vec_id, v.qv, v.n2, c.c_id,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |                 c.c_id) AS crk
       |    FROM p2 v, cents c)
       |  WHERE crk = 1),
       |qs AS (
       |  SELECT vec_id AS q_id, qv AS quv, n2 AS qn2, cell AS q_cell
       |  FROM assign WHERE vec_id BETWEEN 8 AND 12),
       |ivf AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, a.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ($pdot)::DOUBLE / sqrt((q.qn2 * a.n2)::DOUBLE) DESC,
       |                 a.vec_id) AS rk
       |    FROM assign a JOIN qs q ON a.cell = q.q_cell
       |    WHERE a.vec_id <> q.q_id)
       |  WHERE rk <= 2),
       |exact AS (
       |  SELECT q_id, n_id FROM (
       |    SELECT q.q_id, c.vec_id AS n_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ($bdot)::DOUBLE / sqrt((q.qn2 * c.n2)::DOUBLE) DESC,
       |                 c.vec_id) AS rk
       |    FROM qs q, p2 c
       |    WHERE c.vec_id <> q.q_id)
       |  WHERE rk <= 2)
       |SELECT e.q_id,
       |  count(*)::BIGINT AS n_true,
       |  sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
       |  ((sum(CASE WHEN i.n_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
       |    // count(*))::BIGINT AS recall_milli
       |FROM exact e LEFT JOIN ivf i ON e.q_id = i.q_id AND e.n_id = i.n_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin
  }

  // Multi-probe variant: queries take probe ranks 1..2; corpus keeps
  // rank-1 cells. A neighbor is in one cell and probe cells are
  // distinct, so the candidate set has no duplicate pairs.
  private def annIvfMpOracle: String = {
    val adot = dotSql.format("v.qv", "c.qv")
    val pdot = dotSql.format("q.quv", "a.qv")
    s"""WITH $prepSql,
       |cents AS (SELECT vec_id AS c_id, qv, n2 FROM p2 WHERE vec_id < 8),
       |ranked_cells AS (
       |  SELECT v.vec_id, v.qv, v.n2, c.c_id,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY ($adot)::DOUBLE / sqrt((v.n2 * c.n2)::DOUBLE) DESC,
       |               c.c_id) AS crk
       |  FROM p2 v, cents c),
       |assign AS (
       |  SELECT vec_id, qv, n2, c_id AS cell FROM ranked_cells WHERE crk = 1),
       |qs AS (
       |  SELECT vec_id AS q_id, qv AS quv, n2 AS qn2, c_id AS q_cell
       |  FROM ranked_cells WHERE vec_id BETWEEN 8 AND 12 AND crk <= 2),
       |pairs AS (
       |  SELECT q.q_id, a.vec_id AS n_id,
       |    ($pdot)::DOUBLE / sqrt((q.qn2 * a.n2)::DOUBLE) AS cos
       |  FROM assign a JOIN qs q ON a.cell = q.q_cell
       |  WHERE a.vec_id <> q.q_id),
       |ranked AS (
       |  SELECT q_id, n_id, cos,
       |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rk
       |  FROM pairs)
       |SELECT q_id, rk::BIGINT AS rk, n_id, cos FROM ranked
       |WHERE rk <= 2 ORDER BY q_id, rk""".stripMargin
  }

  // Shared CTE prefix for the n-gram corpus operators: distinct h32-hashed
  // 5-grams per document, exploded to (doc_id, g) rows — mirrors
  // Contamination.hashedGramRows (DuckDB range(1, stop) is empty when
  // stop <= 1, matching the sequence() guard).
  private def gramRowsSql: String = {
    val gram = (0 until 5).map(k => s"tk[i + $k]").mkString(" || ' ' || ")
    s"""tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
       |gr AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    list_transform(range(1, len(tk) - 3), i -> $gram),
       |    x -> ${Hashing.h32Sql("x")})) AS gs
       |  FROM tk),
       |e AS (SELECT doc_id, unnest(gs) AS g FROM gr)""".stripMargin
  }

  private def redactOracle: String = {
    // DuckDB single-quoted strings pass backslashes through literally,
    // so the Scala pattern constants embed as-is
    val email = Scrub.EmailRegex
    val phone = Scrub.PhoneRegex
    val ip = Scrub.Ipv4Regex
    s"""WITH aug0 AS (
       |  SELECT doc_id, text || ' contact user' || doc_id::VARCHAR ||
       |    '@mail.example.com tel +1-555-' ||
       |    lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
       |    ' ip 10.0.' || (doc_id % 256)::VARCHAR || '.' ||
       |    ((doc_id * 7) % 256)::VARCHAR AS aug
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(aug, '$email'))::BIGINT AS n_emails,
       |  len(regexp_extract_all(aug, '$phone'))::BIGINT AS n_phones,
       |  len(regexp_extract_all(aug, '$ip'))::BIGINT AS n_ips,
       |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
       |    '$email', '<EMAIL>', 'g'),
       |    '$phone', '<PHONE>', 'g'),
       |    '$ip', '<IP>', 'g')) AS redacted_md5
       |FROM aug0 ORDER BY doc_id""".stripMargin
  }

  private def dupNgramsOracle: String =
    s"""WITH $gramRowsSql,
       |d AS (SELECT g, count(*)::BIGINT AS df FROM e GROUP BY g),
       |pd AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_grams,
       |    sum(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_grams
       |  FROM e JOIN d USING (g) GROUP BY doc_id)
       |SELECT doc_id,
       |  coalesce(n_grams, 0)::BIGINT AS n_grams,
       |  coalesce(dup_grams, 0)::BIGINT AS dup_grams,
       |  CASE WHEN coalesce(n_grams, 0) > 0
       |    THEN coalesce(dup_grams, 0)::DOUBLE / coalesce(n_grams, 0)::DOUBLE
       |    ELSE 0.0 END AS dup_share
       |FROM documents LEFT JOIN pd USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  private def decontamOracle: String =
    s"""WITH $gramRowsSql,
       |bench AS (SELECT DISTINCT g FROM e WHERE doc_id < 10)
       |SELECT doc_id, count(*)::BIGINT AS n_hits
       |FROM e JOIN bench USING (g)
       |WHERE doc_id >= 10 GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // Mirrors Weighting.softDedupWeights over the bag fingerprint:
  // same combinable count, same integer milli-weight floor. coalesce:
  // Spark's concat_ws never returns null, so a null-text doc
  // fingerprints to md5('') — mirror that, or one null in a KEY set
  // diverges the whole join.
  private def softDedupOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    md5(coalesce(array_to_string(list_sort($dtokensSql), ' '), ''))
       |      AS bag_fp
       |  FROM documents),
       |c AS (
       |  SELECT bag_fp, count(*)::BIGINT AS copies FROM b GROUP BY bag_fp)
       |SELECT b.doc_id, c.copies, (1000 // c.copies)::BIGINT AS weight_milli
       |FROM b JOIN c USING (bag_fp) ORDER BY doc_id""".stripMargin

  // Mirrors the incremental mode: same fingerprint, same anti-join
  // against the historical set, same batch-internal survivor pick.
  // NOT EXISTS, never NOT IN: one NULL in the historical set would
  // make NOT IN return zero rows (NULL poisons NOT IN) where Spark's
  // left_anti keeps every non-matching row.
  private def incrementalDedupOracle: String =
    s"""WITH b AS (
       |  SELECT doc_id,
       |    md5(coalesce(array_to_string(list_sort($dtokensSql), ' '), ''))
       |      AS bag_fp
       |  FROM documents),
       |ex AS (SELECT DISTINCT bag_fp FROM b WHERE doc_id < 400),
       |inc AS (SELECT * FROM b WHERE doc_id >= 400),
       |novel AS (
       |  SELECT inc.* FROM inc
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM ex WHERE ex.bag_fp = inc.bag_fp)),
       |r AS (
       |  SELECT doc_id, bag_fp,
       |    row_number() OVER (PARTITION BY bag_fp ORDER BY doc_id) AS rn
       |  FROM novel)
       |SELECT doc_id, bag_fp FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // Mirrors UrlAnalysis.capPerDomain: same synthetic URL, same last-two-
  // label registered domain, same salted-h32 keep order.
  private def domainCapOracle: String = {
    val hostRe = graft.ext.UrlAnalysis.HostRegex
    s"""WITH u AS (
       |  SELECT doc_id,
       |    'https://sub' || (doc_id % 5)::VARCHAR || '.' || source ||
       |      '.example/p/' || doc_id::VARCHAR AS url
       |  FROM documents),
       |h AS (SELECT doc_id, regexp_extract(url, '$hostRe', 1) AS host
       |      FROM u),
       |p AS (SELECT doc_id, host, string_split(host, '.') AS parts FROM h),
       |d AS (SELECT doc_id,
       |        CASE WHEN len(parts) >= 2 THEN parts[-2] || '.' || parts[-1]
       |             ELSE host END AS reg_domain FROM p),
       |r AS (SELECT doc_id, reg_domain,
       |        row_number() OVER (PARTITION BY reg_domain
       |          ORDER BY ${Hashing.h32Sql("'dom|' || doc_id::VARCHAR")},
       |            doc_id) AS rk
       |      FROM d)
       |SELECT doc_id, reg_domain, rk::BIGINT AS rk FROM r
       |WHERE rk <= 20 ORDER BY doc_id""".stripMargin
  }

  // Mirrors Weighting.importanceScores: same h32 buckets, same exact
  // integer ratio floor (HUGEINT keeps the product exact like Spark's
  // decimal(38,0)), same count-weighted integer mean.
  private def dsirOracle: String = {
    val b = 65536
    val h = Hashing.h32Sql("tok")
    s"""WITH ctok AS (
       |  SELECT doc_id, $h % $b AS b FROM (
       |    SELECT doc_id, unnest($tokensSql) AS tok FROM documents)),
       |dbt AS (
       |  SELECT doc_id, b, count(*)::BIGINT AS cnt FROM ctok GROUP BY 1, 2),
       |cb AS (SELECT b, sum(cnt)::BIGINT AS cb FROM dbt GROUP BY b),
       |ttok AS (
       |  SELECT $h % $b AS b FROM (
       |    SELECT unnest($tokensSql) AS tok FROM documents
       |    WHERE doc_id < 25)),
       |tb AS (SELECT b, count(*)::BIGINT AS tb FROM ttok GROUP BY b),
       |tot AS (SELECT (SELECT sum(cb) FROM cb) AS ct_total,
       |               (SELECT count(*) FROM ttok) AS tt_total),
       |r AS (
       |  SELECT cb.b,
       |    ((coalesce(tb.tb, 0)::HUGEINT * ct_total::HUGEINT * 1000) //
       |     (cb.cb::HUGEINT * tt_total::HUGEINT))::BIGINT AS ratio_milli
       |  FROM cb LEFT JOIN tb USING (b), tot),
       |s AS (
       |  SELECT doc_id, sum(cnt)::BIGINT AS n_tok,
       |    sum(cnt * ratio_milli)::BIGINT AS sum_ratio
       |  FROM dbt JOIN r USING (b) GROUP BY doc_id)
       |SELECT doc_id, n_tok, (sum_ratio // n_tok)::BIGINT AS importance_milli
       |FROM s ORDER BY doc_id""".stripMargin
  }

  // Mirrors Contamination.splitLeakage: same split CASE, same 5-gram
  // construction as gramRowsSql, same train-vs-eval distinct-gram join.
  private def splitLeakageOracle: String = {
    val gram = (0 until 5).map(k => s"tk[i + $k]").mkString(" || ' ' || ")
    val splitCase =
      s"""CASE WHEN ${Hashing.h32Sql("'sp|' || doc_id::VARCHAR")} % 100 < 90
         |    THEN 'train'
         |  WHEN ${Hashing.h32Sql("'sp|' || doc_id::VARCHAR")} % 100 < 95
         |    THEN 'val'
         |  ELSE 'test' END""".stripMargin
    s"""WITH tk AS (
       |  SELECT doc_id, $splitCase AS split, $tokensSql AS tk
       |  FROM documents),
       |gr AS (
       |  SELECT doc_id, split, list_distinct(list_transform(
       |    list_transform(range(1, len(tk) - 3), i -> $gram),
       |    x -> ${Hashing.h32Sql("x")})) AS gs
       |  FROM tk),
       |e AS (SELECT doc_id, split, unnest(gs) AS g FROM gr),
       |ev AS (SELECT DISTINCT g FROM e WHERE split <> 'train'),
       |tr AS (SELECT doc_id, g FROM e WHERE split = 'train'),
       |lk AS (SELECT doc_id, count(*)::BIGINT AS leaked_grams
       |       FROM tr JOIN ev USING (g) GROUP BY doc_id),
       |ng AS (SELECT doc_id, count(*)::BIGINT AS n_grams
       |       FROM tr GROUP BY doc_id)
       |SELECT ng.doc_id, ng.n_grams,
       |  coalesce(lk.leaked_grams, 0)::BIGINT AS leaked_grams
       |FROM ng LEFT JOIN lk USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  // Mirrors q_assembly's composition: the SAME kept-conjunction as the
  // gate oracle, the SAME paragraph-dedup CTE chain (parameterized over
  // the gated relation), the SAME split CASE — proving the stages
  // compose identically on both engines.
  private def assemblyOracle: String =
    s"""WITH gated AS (
       |  SELECT doc_id, text FROM documents WHERE $gopherKeptSql),
       |${paraDedupSql("gated")}
       |SELECT t.doc_id, coalesce(a.n_paras, 0)::BIGINT AS n_paras,
       |  coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       |  coalesce(a.clean_md5, md5('')) AS clean_md5,
       |  CASE WHEN ${Hashing.h32Sql("'sp|' || t.doc_id::VARCHAR")} % 100 < 90
       |    THEN 'train'
       |  WHEN ${Hashing.h32Sql("'sp|' || t.doc_id::VARCHAR")} % 100 < 95
       |    THEN 'val'
       |  ELSE 'test' END AS split
       |FROM tk t LEFT JOIN agg a ON t.doc_id = a.doc_id
       |ORDER BY t.doc_id""".stripMargin

  private def urlParseOracle: String = {
    val hostRe = graft.ext.UrlAnalysis.HostRegex
    val pathRe = graft.ext.UrlAnalysis.PathRegex
    val regDom =
      "CASE WHEN len(parts) >= 2 THEN parts[-2] || '.' || parts[-1] ELSE host END"
    s"""WITH u AS (
       |  SELECT doc_id,
       |    CASE doc_id % 4
       |      WHEN 0 THEN 'https://img.cdn-ex.test/a/b/' || doc_id || '.jpg'
       |      WHEN 1 THEN 'http://ex.test/' || doc_id
       |      WHEN 2 THEN 'https://deep.sub.spam-site.test/x/y/z/w?q=' || doc_id
       |      ELSE 'https://localhost/' || doc_id || '/'
       |    END AS url
       |  FROM documents),
       |h AS (SELECT doc_id, url,
       |        regexp_extract(url, '$hostRe', 1) AS host FROM u),
       |p AS (SELECT doc_id, host, string_split(host, '.') AS parts,
       |        regexp_extract(url, '$pathRe', 1) AS path,
       |        position('?' IN url) > 0 AS has_query
       |      FROM h)
       |SELECT doc_id, host,
       |  $regDom AS reg_domain,
       |  parts[-1] AS tld,
       |  len(list_filter(string_split(path, '/'), x -> x <> ''))::BIGINT
       |    AS path_depth,
       |  has_query,
       |  NOT ($regDom IN ('spam-site.test')) AS kept
       |FROM p ORDER BY doc_id""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // chunk_id derives from the start offset ((start-1)/stride + 1) —
    // DuckDB has no posexplode, but starts are exactly 1 + k*stride
    "q_chunk" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS tk FROM documents),
         |st AS (
         |  SELECT doc_id, tk, unnest(range(1, len(tk) + 1, 10)) AS start
         |  FROM tk)
         |SELECT doc_id,
         |  ((start - 1) // 10 + 1)::BIGINT AS chunk_id,
         |  start::BIGINT AS start,
         |  len(tk[start : start + 19])::BIGINT AS chunk_tokens,
         |  md5(array_to_string(tk[start : start + 19], ' ')) AS chunk_md5
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "q_pack" ->
      s"""WITH c AS (
         |  SELECT doc_id, lang, len($tokensSql)::BIGINT AS n_tokens,
         |    sum(len($tokensSql)) OVER (PARTITION BY lang ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |      AS cum
         |  FROM documents)
         |SELECT doc_id, lang, n_tokens, cum,
         |  ((cum - n_tokens) // 256)::BIGINT AS bin
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_pack_sharded" ->
      s"""WITH s0 AS (
         |  SELECT doc_id, lang, len($tokensSql)::BIGINT AS n_tokens,
         |    ${Hashing.h32Sql("'pk|' || doc_id::VARCHAR")} % 8 AS shard
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, lang, n_tokens, shard,
         |    sum(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
         |      AS cum
         |  FROM s0)
         |SELECT doc_id, lang, n_tokens, shard, cum,
         |  ((cum - n_tokens) // 256)::BIGINT AS bin
         |FROM c ORDER BY doc_id""".stripMargin,

    "q_lang_quota" ->
      s"""SELECT doc_id, lang, rk FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${Hashing.h32Sql("'q|' || doc_id::VARCHAR")}, doc_id)
         |      AS rk
         |  FROM documents)
         |WHERE rk <= 40 ORDER BY doc_id""".stripMargin,

    "q_url_parse" -> urlParseOracle,
    "q_redact" -> redactOracle,
    "q_toxicity_gate" -> toxicityGateOracle,
    "q_toxicity_relational" -> toxicityRelationalOracle,
    "q_toxicity_sources" -> toxicitySourcesOracle,
    "q_boilerplate" -> boilerplateOracle,
    "q_warc_boilerplate" -> warcBoilerplateOracle,
    "q_c4_pipeline" -> c4PipelineOracle,
    "q_curation_stream" -> curationStreamOracle,
    // DuckDB reads the same committed gzip bytes independently
    // (ignore_errors surfaces the corrupt line as a null row in current
    // DuckDB; filtering on doc_id keeps the compare robust if a future
    // version drops it instead — Spark filters its quarantine column)
    "q_jsonl_roundtrip" ->
      s"""SELECT doc_id, text, lang
         |FROM read_json('$jsonlCorpusDir/*.json.gz',
         |  format='newline_delimited',
         |  columns={doc_id:'BIGINT', text:'VARCHAR', lang:'VARCHAR'},
         |  ignore_errors=true)
         |WHERE doc_id IS NOT NULL ORDER BY doc_id""".stripMargin,
    "q_dup_ngrams" -> dupNgramsOracle,
    "q_decontam" -> decontamOracle,
    "q_bloom_decontam" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, n_chars, md5(text) AS fp
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT doc_id, lang, n_chars FROM d
         |WHERE doc_id >= 10
         |  AND fp NOT IN (SELECT fp FROM d WHERE doc_id < 10)
         |ORDER BY doc_id""".stripMargin,
    "q_text_stats" ->
      s"""SELECT doc_id,
         |  len($tokensSql)::BIGINT AS n_tokens,
         |  len($dtokensSql)::BIGINT AS n_distinct,
         |  length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS alpha_chars,
         |  len(list_filter($tokensSql, t -> t IN ($stopSql)))::BIGINT AS stop_hits
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      s"""WITH c AS (
         |  SELECT doc_id, n_chars,
         |    len($tokensSql)::BIGINT AS nt,
         |    len($dtokensSql)::BIGINT AS nd,
         |    length(regexp_replace(text, '[^a-z]', '', 'g'))::BIGINT AS ac,
         |    len(list_filter($tokensSql, t -> t IN ($stopSql)))::BIGINT AS sh
         |  FROM documents),
         |sc AS (
         |  SELECT doc_id,
         |    (nd::DOUBLE / nt) * 0.35 + (ac::DOUBLE / n_chars) * 0.35 +
         |    (sh::DOUBLE / nt) * 0.1 + (least(nt, 100)::DOUBLE / 100.0) * 0.2
         |      AS score
         |  FROM c)
         |SELECT doc_id, score,
         |  CASE WHEN score >= 0.8 THEN 'good'
         |       WHEN score >= 0.65 THEN 'ok' ELSE 'low' END AS label
         |FROM sc ORDER BY doc_id""".stripMargin,

    "q_langid" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\b(the|a|of)\b'))::BIGINT AS s_en,
        |    len(regexp_extract_all(text, '\b(spark|query|join|table)\b'))::BIGINT AS s_code,
        |    len(regexp_extract_all(text, '\b(data|row|column|batch)\b'))::BIGINT AS s_data
        |  FROM documents)
        |SELECT doc_id, s_en, s_code, s_data,
        |  CASE WHEN s_en >= s_code AND s_en >= s_data THEN 'en'
        |       WHEN s_code >= s_data THEN 'code' ELSE 'data' END AS pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(coalesce(array_to_string(list_sort($dtokensSql), ' '), ''))
         |    AS bag_fp,
         |  list_aggregate(list_transform($tokensSql, w -> md5(w)), 'min') AS min_fp,
         |  list_reduce(list_transform($tokensSql, w -> ${Hashing.h32Sql("w")}),
         |    (a, h) -> (a * ${TA.RollB} + h) % ${TA.RollM}) AS roll_fp,
         |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]+'))::BIGINT
         |    AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_token_topk" ->
      s"""SELECT token, count(*)::BIGINT AS n FROM (
         |  SELECT unnest($tokensSql) AS token FROM documents)
         |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q_minhash_lsh" -> minhashOracle,
    "q_minhash_agg" -> minhashAggOracle,
    "q_lsh_neardup" -> lshNearDupOracle,
    "q_neardup_cluster" -> neardupClusterOracle,
    "q_cluster_star" -> neardupClusterOracle,
    "q_cluster_split" -> clusterSplitOracle,
    "q_cluster_dedup" -> clusterDedupOracle,
    "q_cluster_best" -> clusterBestOracle,
    "q_dedup_minhash" -> dedupMinhashOracle,
    "q_soft_dedup" -> softDedupOracle,
    "q_incremental_dedup" -> incrementalDedupOracle,
    "q_mix_temperature" ->
      """WITH c AS (
        |  SELECT lang, count(*)::BIGINT AS n_docs
        |  FROM documents GROUP BY lang),
        |s AS (SELECT lang, n_docs,
        |        floor(sqrt(n_docs))::BIGINT AS sq FROM c),
        |t AS (SELECT sum(sq)::BIGINT AS tt FROM s)
        |SELECT lang, n_docs,
        |  greatest((sq * 1000) // tt, 1)::BIGINT AS weight_milli
        |FROM s, t ORDER BY lang""".stripMargin,
    "q_domain_cap" -> domainCapOracle,
    "q_dsir" -> dsirOracle,
    "q_split_leakage" -> splitLeakageOracle,
    "q_tfidf" -> tfidfOracle,
    "q_bm25" -> bm25Oracle,
    "q_lsh_recall" -> lshRecallOracle,
    "q_cluster_stats" -> clusterStatsOracle,
    "q_minhash_est" -> minhashEstOracle,

    "q_hash_sample" ->
      s"""SELECT lang, count(*) AS n_sampled,
         |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
         |FROM documents
         |WHERE ${Hashing.h32Sql("'smp|' || doc_id::VARCHAR")} % 100 < 10
         |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_repetition" ->
      s"""SELECT doc_id,
         |  len($tokensSql)::BIGINT AS n_tokens,
         |  CASE WHEN len($tokensSql) - 1 > 0 THEN
         |    1.0 - len(list_distinct(list_transform(range(1, len($tokensSql)),
         |      i -> $tokensSql[i] || ' ' || $tokensSql[i + 1])))::DOUBLE
         |      / (len($tokensSql) - 1)::DOUBLE
         |  ELSE 0.0 END AS dup_bigram_ratio,
         |  CASE WHEN len($tokensSql) > 0 THEN
         |    list_max(list_transform($dtokensSql,
         |      w -> len(list_filter($tokensSql, t -> t = w))))::DOUBLE
         |      / len($tokensSql)::DOUBLE
         |  ELSE 0.0 END AS top_token_share
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q_simhash" -> simhashOracle,

    // Mirrors jaccardPairs exactly: same h32 shingle hashing, same df <= 8
    // stop-shingle cutoff per (lang, bucket) block, same inverted-index
    // intersection counting — both engines compute Jaccard over the
    // df-filtered hashed shingle sets, so the compare is bit-exact.
    "q_ngram_jaccard" ->
      s"""WITH d AS (
         |  SELECT doc_id, lang, floor(n_chars / 50)::BIGINT AS bucket,
         |    list_distinct(list_transform(
         |      list_transform(range(1, len($tokensSql)),
         |        i -> $tokensSql[i] || ' ' || $tokensSql[i + 1]),
         |      x -> ${Hashing.h32Sql("x")})) AS hs
         |  FROM documents),
         |ex0 AS (SELECT doc_id, lang, bucket, unnest(hs) AS s FROM d),
         |ex AS (SELECT doc_id, lang, bucket, s FROM (
         |    SELECT *, count(*) OVER (PARTITION BY lang, bucket, s) AS df
         |    FROM ex0) WHERE df <= 8),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM ex GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*)::BIGINT AS inter_size
         |  FROM ex a JOIN ex b
         |    ON a.lang = b.lang AND a.bucket = b.bucket AND a.s = b.s
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT d1, d2, inter_size,
         |    (s1.sz + s2.sz - inter_size)::BIGINT AS union_size
         |  FROM inter
         |  JOIN sz s1 ON inter.d1 = s1.doc_id
         |  JOIN sz s2 ON inter.d2 = s2.doc_id)
         |SELECT d1, d2, inter_size, union_size,
         |  inter_size::DOUBLE / union_size AS jac
         |FROM j WHERE inter_size::DOUBLE / union_size >= 0.6
         |ORDER BY d1, d2""".stripMargin,

    "q_curation" -> curationOracle,
    "q_embed_sig" -> embedSigOracle,
    "q_embed_neardup" -> embedNearDupOracle,
    "q_cosine_topk" -> cosineTopkOracle,
    "q_ann_ivf" -> annIvfOracle,
    "q_ann_recall" -> annRecallOracle,
    "q_containment" -> containmentOracle,
    "q_winnow" -> winnowOracle,
    "q_oov_bigrams" -> oovBigramsOracle,
    "q_ann_pq" -> annPqOracle,
    "q_ann_ivfpq" -> annIvfPqOracle,
    "q_ann_ivf_mp" -> annIvfMpOracle,
    "q_kmeans" -> kmeansOracle,
    "q_semdedup" -> semDedupOracle,
    "q_semdedup_clustered" -> semDedupClusteredOracle,
    "q_ann_recall_clustered" -> annRecallClusteredOracle,
    "q_ann_pq_trained" -> annPqTrainedOracle,
    "q_ann_pq_recall" -> annPqRecallOracle,
    "q_ann_ivfpq_trained" -> annIvfPqTrainedOracle,
    "q_semdedup_audit" -> semDedupAuditOracle,
    "q_assembly" -> assemblyOracle,
    "q_cdc_dedup" -> cdcDedupOracle,
    "q_phash_neardup" -> phashNearDupOracle,
    "q_mix" -> mixOracle,
    "q_topterms" -> topTermsOracle,

    "q_split" ->
      s"""SELECT doc_id, lang,
         |  CASE WHEN ${Hashing.h32Sql("'sp|' || doc_id::VARCHAR")} % 100 < 90
         |    THEN 'train'
         |  WHEN ${Hashing.h32Sql("'sp|' || doc_id::VARCHAR")} % 100 < 95
         |    THEN 'val'
         |  ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_normalize" ->
      s"""SELECT doc_id, md5(norm) AS norm_md5,
         |  length(norm)::BIGINT AS n_chars_norm FROM (
         |  SELECT doc_id, trim(regexp_replace(regexp_replace(
         |    lower('  ' || upper(text) || chr(9) || 'END  '),
         |    '[\\x00-\\x1F\\x7F]', ' ', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,
    "q_para_dedup" -> paraDedupOracle,
    "q_gopher_gate" -> gopherGateOracle,
    "q_corpus_report" ->
      s"""SELECT lang,
         |  count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT
         |    AS n_null_text,
         |  sum(CASE WHEN text IS NULL THEN 0
         |      ELSE len(string_split(text, ' ')) END)::BIGINT AS n_tokens,
         |  coalesce(sum(n_chars), 0)::BIGINT AS sum_chars,
         |  sum(CASE WHEN $gopherKeptSql THEN 1 ELSE 0 END)::BIGINT
         |    AS n_gopher_pass
         |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q_url_canon" -> urlCanonOracle,

    // the muxer's spec arithmetic, recomputed independently: sample i
    // (1-based) is 50+((doc_id+i)%64) bytes of byte value (doc_id+i)%251,
    // keyframes at i = 1, 4, 7, ... -> ceil(n/3) of them
    "q_video_meta" ->
      """WITH p AS (SELECT doc_id, (1 + (doc_id % 7) * 3)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |sz AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM p),
        |tot AS (SELECT doc_id,
        |          sum(50 + (doc_id + i) % 64)::BIGINT AS total_sample_bytes
        |        FROM sz GROUP BY doc_id)
        |SELECT p.doc_id, 'isom' AS brand, 'mp4v' AS codec,
        |  (16 * (1 + p.doc_id % 20))::BIGINT AS width,
        |  (16 * (1 + p.doc_id % 12))::BIGINT AS height,
        |  p.n AS n_samples,
        |  ((p.n + 2) // 3)::BIGINT AS n_keyframes,
        |  (40 * p.n)::BIGINT AS duration_ms,
        |  tot.total_sample_bytes,
        |  (50 + (p.doc_id + 1) % 64)::BIGINT AS kf1_size,
        |  ((p.doc_id + 1) % 251)::BIGINT AS kf1_first_byte,
        |  0::BIGINT AS media_time
        |FROM p JOIN tot USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // the mixed-layout corpus: even ids use the progressive spec
    // arithmetic above, odd ids the fragmented spec —
    // n = (1+id%4)*(2+id%5) samples of 40+((id+i)%50) bytes filled with
    // (id*3+i)%251, keyframes every 3rd, elst media_time 40 on id%5==0
    "q_video_frag" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id % 7) * 3
        |         ELSE (1 + doc_id % 4) * (2 + doc_id % 5)
        |    END::BIGINT AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        |sz AS (SELECT doc_id, n, unnest(generate_series(1, n)) AS i FROM p),
        |tot AS (SELECT doc_id,
        |    sum(CASE WHEN doc_id % 2 = 0 THEN 50 + (doc_id + i) % 64
        |             ELSE 40 + (doc_id + i) % 50 END)::BIGINT
        |      AS total_sample_bytes
        |  FROM sz GROUP BY doc_id)
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id % 2 = 0 THEN 'isom' ELSE 'iso5' END AS brand,
        |  'mp4v' AS codec,
        |  (16 * (1 + p.doc_id % 20))::BIGINT AS width,
        |  (16 * (1 + p.doc_id % 12))::BIGINT AS height,
        |  p.n AS n_samples,
        |  ((p.n + 2) // 3)::BIGINT AS n_keyframes,
        |  (40 * p.n)::BIGINT AS duration_ms,
        |  tot.total_sample_bytes,
        |  CASE WHEN p.doc_id % 2 = 0 THEN 50 + (p.doc_id + 1) % 64
        |       ELSE 40 + (p.doc_id + 1) % 50 END::BIGINT AS kf1_size,
        |  CASE WHEN p.doc_id % 2 = 0 THEN (p.doc_id + 1) % 251
        |       ELSE (p.doc_id * 3 + 1) % 251 END::BIGINT AS kf1_first_byte,
        |  CASE WHEN p.doc_id % 2 = 1 AND p.doc_id % 5 = 0 THEN 40
        |       ELSE 0 END::BIGINT AS media_time
        |FROM p JOIN tot USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // the audio muxers' spec arithmetic recomputed per format (see
    // Multimodal.syntheticAudioMedia scaladoc): MP3 duration is
    // frames*1152 samples at 44100 Hz; WAV/FLAC are samples/rate; OGG
    // duration comes from the final granule (Opus: minus pre-skip, at
    // the fixed 48 kHz tick rate)
    "q_audio_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'mp3' WHEN 1 THEN 'wav'
        |       WHEN 2 THEN 'flac' WHEN 3 THEN 'ogg' ELSE 'm4a' END
        |    AS format,
        |  CASE doc_id % 5 WHEN 0 THEN 'mp3' WHEN 1 THEN 'pcm_s16le'
        |       WHEN 2 THEN 'flac'
        |       WHEN 3 THEN CASE WHEN doc_id % 10 = 8 THEN 'opus'
        |                        ELSE 'vorbis' END
        |       ELSE 'mp4a' END AS codec,
        |  CASE doc_id % 5 WHEN 0 THEN 44100
        |       WHEN 1 THEN 8000 * (1 + doc_id % 3)
        |       WHEN 2 THEN 32000 + (doc_id % 3) * 8000
        |       WHEN 3 THEN CASE WHEN doc_id % 10 = 8 THEN 48000
        |                        ELSE 44100 END
        |       ELSE 44100 END::BIGINT AS sample_rate,
        |  CASE doc_id % 5
        |       WHEN 0 THEN CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 2 END
        |       WHEN 1 THEN CASE WHEN doc_id % 10 = 1 THEN 1 ELSE 2 END
        |       WHEN 2 THEN 1 + ((doc_id // 5) % 2)
        |       WHEN 3 THEN 2
        |       ELSE CASE WHEN doc_id % 10 = 4 THEN 1 ELSE 2 END
        |  END::BIGINT AS channels,
        |  CASE doc_id % 5
        |       WHEN 0 THEN ((3 + doc_id % 6) * 1152 * 1000) // 44100
        |       WHEN 1 THEN ((200 + doc_id % 50) * 1000)
        |                   // (8000 * (1 + doc_id % 3))
        |       WHEN 2 THEN ((5000 + (doc_id * 13) % 20000) * 1000)
        |                   // (32000 + (doc_id % 3) * 8000)
        |       WHEN 3 THEN CASE WHEN doc_id % 10 = 8
        |                        THEN 20 * (2 + doc_id % 4)
        |                        ELSE 100 * (2 + doc_id % 4) END
        |       ELSE ((4 + doc_id % 7) * 1024 * 1000) // 44100
        |  END::BIGINT AS duration_ms,
        |  CASE doc_id % 5
        |       WHEN 0 THEN 3 + doc_id % 6
        |       WHEN 1 THEN 200 + doc_id % 50
        |       WHEN 2 THEN 5000 + (doc_id * 13) % 20000
        |       WHEN 3 THEN 3 + doc_id % 3
        |       ELSE 4 + doc_id % 7 END::BIGINT AS n_units
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the WebM muxer's spec arithmetic recomputed: n = 2+(id%9) blocks
    // of 30+((id+2i)%40) bytes filled with (id*7+i)%251, keyframes at
    // blocks 1, 5, 9, ... (keyEvery 4), 40 ms per block
    "q_video_webm" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 9)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |sz AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM p),
        |tot AS (SELECT doc_id,
        |          sum(30 + (doc_id + 2 * i) % 40)::BIGINT
        |            AS total_sample_bytes
        |        FROM sz GROUP BY doc_id)
        |SELECT p.doc_id, 'webm' AS brand, 'V_VP9' AS codec,
        |  (32 * (1 + p.doc_id % 10))::BIGINT AS width,
        |  (32 * (1 + p.doc_id % 6))::BIGINT AS height,
        |  p.n AS n_samples,
        |  ((p.n + 3) // 4)::BIGINT AS n_keyframes,
        |  (40 * p.n)::BIGINT AS duration_ms,
        |  tot.total_sample_bytes,
        |  (30 + (p.doc_id + 2) % 40)::BIGINT AS kf1_size,
        |  ((p.doc_id * 7 + 1) % 251)::BIGINT AS kf1_first_byte,
        |  0::BIGINT AS media_time
        |FROM p JOIN tot USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // the AVI muxer's spec arithmetic recomputed: n = 3+(id%8) frames
    // of 45+((id+5i)%60) bytes filled with (id*11+i)%251, keyframes
    // every 3rd via idx1 EXCEPT ids divisible by 7 (no index = all
    // sync), 40 ms per frame
    "q_video_avi" ->
      """WITH p AS (SELECT doc_id, (3 + doc_id % 8)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |sz AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM p),
        |tot AS (SELECT doc_id,
        |          sum(45 + (doc_id + 5 * i) % 60)::BIGINT
        |            AS total_sample_bytes
        |        FROM sz GROUP BY doc_id)
        |SELECT p.doc_id, 'avi' AS brand, 'MJPG' AS codec,
        |  (8 * (1 + p.doc_id % 30))::BIGINT AS width,
        |  (8 * (1 + p.doc_id % 20))::BIGINT AS height,
        |  p.n AS n_samples,
        |  CASE WHEN p.doc_id % 7 = 0 THEN p.n
        |       ELSE (p.n + 2) // 3 END::BIGINT AS n_keyframes,
        |  (40 * p.n)::BIGINT AS duration_ms,
        |  tot.total_sample_bytes,
        |  (45 + (p.doc_id + 5) % 60)::BIGINT AS kf1_size,
        |  ((p.doc_id * 11 + 1) % 251)::BIGINT AS kf1_first_byte,
        |  0::BIGINT AS media_time
        |FROM p JOIN tot USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // the png-shard spec recomputed: sample j of 2+(id%3) has png dims
    // (8+((id+j)%16)) x (8+((id*3+j)%12)) and 3+((id+j)%5) tokens
    "q_wds_pipeline" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 3)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id,
        |  doc_id::VARCHAR || '_' || j::VARCHAR AS key,
        |  (8 + (doc_id + j) % 16)::BIGINT AS width,
        |  (8 + (doc_id * 3 + j) % 12)::BIGINT AS height,
        |  (3 + (doc_id + j) % 5)::BIGINT AS n_tokens
        |FROM s ORDER BY doc_id, key""".stripMargin,

    // the zip-shard sample spec recomputed (n = 2+(id%4) samples)
    "q_zip_pipeline" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 4)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id,
        |  doc_id::VARCHAR || '_' || j::VARCHAR AS key,
        |  (8 + (doc_id * 2 + j) % 16)::BIGINT AS width,
        |  (8 + (doc_id + 2 * j) % 12)::BIGINT AS height,
        |  (2 + (doc_id * j) % 6)::BIGINT AS n_tokens
        |FROM s ORDER BY doc_id, key""".stripMargin,

    // clip-text recomputed: video frames sit at (j-1)*40 ms for
    // j = 1..nv (nv = 1+(id%7)*3); cue k covers
    // [(k-1)*120 + id%40, +100) — matched frame indices are the
    // integer range [ceil(start/40), floor((start+99)/40)] clamped to
    // [0, nv-1]
    "q_clip_text" ->
      """WITH p AS (SELECT doc_id, (1 + (doc_id % 7) * 3)::BIGINT AS nv,
        |    (3 + doc_id % 5)::BIGINT AS nc, (doc_id % 40)::BIGINT AS r
        |  FROM documents WHERE doc_id IS NOT NULL),
        |c AS (SELECT doc_id, nv, r, unnest(generate_series(1, nc)) AS k
        |      FROM p),
        |m AS (SELECT doc_id, k,
        |    (((k - 1) * 120 + r) + 39) // 40 AS lo_j,
        |    least(((k - 1) * 120 + r + 99) // 40, nv - 1) AS hi_j
        |  FROM c)
        |SELECT doc_id, k::BIGINT AS cue_idx,
        |  (hi_j - lo_j + 1)::BIGINT AS n_frames,
        |  lo_j::BIGINT AS first_frame,
        |  hi_j::BIGINT AS last_frame
        |FROM m WHERE hi_j >= lo_j
        |ORDER BY doc_id, cue_idx""".stripMargin,

    // the GIF muxer's spec arithmetic recomputed: n = 2+(id%7) frames
    // of 20+((id+4i)%60) data bytes filled with (id*9+i)%251, delays
    // 10*(4+((id+i)%6)) ms, NETSCAPE loop id%5 iff id%3==0
    "q_video_gif" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 7)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |sz AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM p),
        |tot AS (SELECT doc_id,
        |          sum(10 * (4 + (doc_id + i) % 6))::BIGINT AS duration_ms
        |        FROM sz GROUP BY doc_id)
        |SELECT p.doc_id, '89a' AS version,
        |  (10 + p.doc_id % 300)::BIGINT AS width,
        |  (10 + p.doc_id % 200)::BIGINT AS height,
        |  p.n AS n_frames,
        |  tot.duration_ms,
        |  CASE WHEN p.doc_id % 3 = 0 THEN p.doc_id % 5
        |       ELSE -1 END::BIGINT AS loop_count,
        |  (20 + (p.doc_id + 4) % 60)::BIGINT AS f1_size,
        |  ((p.doc_id * 9 + 1) % 251)::BIGINT AS f1_first_byte
        |FROM p JOIN tot USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // the subtitle spec recomputed: n = 2+(id%6) cues, cue j at
    // [(j-1)*2000 + id%500, +1500) ms, text 'cue j of doc id'
    "q_subtitles" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 6)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id, j::BIGINT AS cue_idx,
        |  ((j - 1) * 2000 + doc_id % 500)::BIGINT AS start_ms,
        |  ((j - 1) * 2000 + doc_id % 500 + 1500)::BIGINT AS end_ms,
        |  'cue ' || j::VARCHAR || ' of doc ' || doc_id::VARCHAR AS text
        |FROM s ORDER BY doc_id, cue_idx""".stripMargin,

    "q_exif" ->
      """SELECT doc_id,
        |  (16 * (1 + doc_id % 12))::BIGINT AS width,
        |  (16 * (1 + doc_id % 9))::BIGINT AS height,
        |  (1 + doc_id % 8)::BIGINT AS orientation,
        |  'Make' || (doc_id % 3)::VARCHAR AS make,
        |  'Model' || (doc_id % 4)::VARCHAR AS model,
        |  printf('%04d:%02d:%02d %02d:%02d:%02d',
        |    2000 + doc_id % 22, 1 + doc_id % 12, 1 + doc_id % 28,
        |    doc_id % 24, doc_id % 60, doc_id % 60) AS dt_original,
        |  ((doc_id * 31) % 324001 - 162000)::BIGINT AS lat_arcsec,
        |  ((doc_id * 57) % 1296001 - 648000)::BIGINT AS lon_arcsec
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the shard spec recomputed: n = 2+(id%4) samples, img members of
    // 37+((id+j)%50) bytes filled with (id+2j)%251, txt members of
    // 10+((id*j)%20) bytes filled with (id+3j)%251
    "q_webdataset" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 4)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p),
        |m AS (
        |  SELECT doc_id,
        |    doc_id::VARCHAR || '_' || j::VARCHAR AS key, 'img' AS ext,
        |    (37 + (doc_id + j) % 50)::BIGINT AS byte_len,
        |    ((doc_id + 2 * j) % 251)::BIGINT AS first_byte
        |  FROM s
        |  UNION ALL
        |  SELECT doc_id,
        |    doc_id::VARCHAR || '_' || j::VARCHAR AS key, 'txt' AS ext,
        |    (10 + (doc_id * j) % 20)::BIGINT AS byte_len,
        |    ((doc_id + 3 * j) % 251)::BIGINT AS first_byte
        |  FROM s)
        |SELECT doc_id, key, ext, byte_len, first_byte FROM m
        |ORDER BY doc_id, key, ext""".stripMargin,

    // the zip muxer's spec recomputed: n = 2+(id%4) members, member j
    // = 30+((id*j)%70) bytes whose k-th byte is (id+2j+k)%251; method
    // by (id+j) parity; CRC verification always passes on the twin
    "q_zip_archive" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 4)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p),
        |m AS (SELECT doc_id, j,
        |        (30 + (doc_id * j) % 70)::BIGINT AS byte_len FROM s)
        |SELECT doc_id,
        |  doc_id::VARCHAR || '/part' || j::VARCHAR ||
        |    CASE WHEN j % 2 = 1 THEN '.txt' ELSE '.bin' END AS name,
        |  CASE WHEN (doc_id + j) % 2 = 0 THEN 'deflate'
        |       ELSE 'stored' END AS method,
        |  byte_len,
        |  ((doc_id + 2 * j) % 251)::BIGINT AS first_byte,
        |  ((doc_id + 2 * j + byte_len - 1) % 251)::BIGINT AS last_byte,
        |  true AS crc_ok
        |FROM m ORDER BY doc_id, name""".stripMargin,

    // lossless round trip: the extracted member text IS the source text
    "q_zip_text" ->
      """SELECT doc_id, text FROM documents
        |WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the sitemap spec recomputed: even ids 1+(id%3) urlset members
    // with decoded & in the loc; odd ids 2 sitemapindex children
    "q_sitemap" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
        |         ELSE 2 END::BIGINT AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'url' ELSE 'sitemap' END AS kind,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN 'https://s' || doc_id::VARCHAR || '.test/p' ||
        |            j::VARCHAR || '?a=1&b=2'
        |       ELSE 'https://s' || doc_id::VARCHAR || '.test/sitemap' ||
        |            j::VARCHAR || '.xml' END AS loc,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN printf('2024-%02d-%02d', 1 + doc_id % 12,
        |                   1 + doc_id % 28)
        |       ELSE '' END AS lastmod,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN '0.' || (1 + (doc_id + j) % 9)::VARCHAR
        |       ELSE '' END AS priority
        |FROM s ORDER BY doc_id, loc""".stripMargin,

    // the gate recomputed: robots kind = (id%50)%3 — kind 2 allows
    // all; kind 1's graftbot group only blocks /nobot/; kind 0 blocks
    // /private/ (with the /private/ok/ allow override) and anchored
    // *.pdf (which must NOT catch the ?query variant)
    "q_robots_gate" ->
      """SELECT doc_id,
        |  'd' || (doc_id % 50)::VARCHAR || '.test' AS domain,
        |  CASE doc_id % 6
        |    WHEN 0 THEN '/a/b' || doc_id::VARCHAR
        |    WHEN 1 THEN '/private/x' || doc_id::VARCHAR
        |    WHEN 2 THEN '/private/ok/y' || doc_id::VARCHAR
        |    WHEN 3 THEN '/doc' || doc_id::VARCHAR || '.pdf'
        |    WHEN 4 THEN '/nobot/z' || doc_id::VARCHAR
        |    ELSE '/doc' || doc_id::VARCHAR || '.pdf?x=1' END AS path,
        |  CASE WHEN (doc_id % 50) % 3 = 2 THEN true
        |       WHEN (doc_id % 50) % 3 = 1 THEN doc_id % 6 <> 4
        |       ELSE doc_id % 6 NOT IN (1, 3) END AS allowed,
        |  CASE WHEN (doc_id % 50) % 3 = 0 THEN 2.0::DOUBLE
        |       ELSE NULL END AS crawl_delay_sec
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the 50 fixture domains recomputed: kind k%3 — 0 declares a.xml
    // + b.xml, 2 declares sitemap.xml, 1 declares none
    "q_robots_sitemaps" ->
      """WITH d AS (SELECT unnest(generate_series(0, 49)) AS k),
        |m AS (
        |  SELECT k, 'https://maps.example.test/a.xml' AS sitemap
        |  FROM d WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, 'https://maps.example.test/b.xml' FROM d WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k, 'https://example.test/sitemap.xml' FROM d WHERE k % 3 = 2)
        |SELECT 'd' || k::VARCHAR || '.test' AS domain, sitemap
        |FROM m ORDER BY domain, sitemap""".stripMargin,

    // the feed muxer recomputed: even ids RSS (1+(id%3) items), odd
    // Atom (1+(id%2) entries); titles/links/dates in closed form —
    // CDATA and entity titles decode identically
    "q_feed_entries" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
        |         ELSE 1 + doc_id % 2 END::BIGINT AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'rss' ELSE 'atom' END AS kind,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN 'Post ' || j::VARCHAR || ' & notes'
        |       ELSE 'Entry ' || j::VARCHAR END AS title,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN 'https://n' || doc_id::VARCHAR || '.test/post' ||
        |            j::VARCHAR || '?u=1&v=2'
        |       ELSE 'https://n' || doc_id::VARCHAR || '.test/e' ||
        |            j::VARCHAR END AS link,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN '0' || (1 + doc_id % 9)::VARCHAR ||
        |            ' Jan 2024 00:00:00 GMT'
        |       ELSE '2024-0' || (1 + doc_id % 9)::VARCHAR ||
        |            '-01T00:00:00Z' END AS published
        |FROM s ORDER BY doc_id, link""".stripMargin,

    // the feed-channel admission recomputed: paths per dialect (rss
    // /post<j>?u=1&v=2, atom /e<j>), gate by id%4 — 0 blocks the
    // /post1 prefix (2 s delay), 1's graftbot group blocks /e2,
    // 2 allows all, 3 has no robots row (allowed, null delay)
    "q_feed_frontier" ->
      """WITH p AS (SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0 THEN 1 + doc_id % 3
        |         ELSE 1 + doc_id % 2 END::BIGINT AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id,
        |  'n' || doc_id::VARCHAR || '.test' AS domain,
        |  CASE WHEN doc_id % 2 = 0
        |       THEN '/post' || j::VARCHAR || '?u=1&v=2'
        |       ELSE '/e' || j::VARCHAR END AS path,
        |  CASE WHEN doc_id % 4 = 0 THEN j <> 1
        |       WHEN doc_id % 4 = 1 THEN j <> 2
        |       ELSE true END AS allowed,
        |  CASE WHEN doc_id % 4 = 0 THEN 2.0::DOUBLE
        |       ELSE NULL END AS crawl_delay_sec
        |FROM s ORDER BY doc_id, path""".stripMargin,

    // the capped scheduler: the schedule oracle with slots >= 5
    // dropped (rank over the allowed subset, then the quota)
    "q_politeness_capped" ->
      """WITH g AS (SELECT doc_id,
        |    'd' || (doc_id % 50)::VARCHAR || '.test' AS domain,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/a/b' || doc_id::VARCHAR
        |      WHEN 1 THEN '/private/x' || doc_id::VARCHAR
        |      WHEN 2 THEN '/private/ok/y' || doc_id::VARCHAR
        |      WHEN 3 THEN '/doc' || doc_id::VARCHAR || '.pdf'
        |      WHEN 4 THEN '/nobot/z' || doc_id::VARCHAR
        |      ELSE '/doc' || doc_id::VARCHAR || '.pdf?x=1' END AS path,
        |    CASE WHEN (doc_id % 50) % 3 = 2 THEN true
        |         WHEN (doc_id % 50) % 3 = 1 THEN doc_id % 6 <> 4
        |         ELSE doc_id % 6 NOT IN (1, 3) END AS allowed,
        |    CASE WHEN (doc_id % 50) % 3 = 0 THEN 2.0::DOUBLE
        |         ELSE NULL END AS crawl_delay_sec
        |  FROM documents WHERE doc_id IS NOT NULL),
        |r AS (SELECT doc_id, domain, path, crawl_delay_sec,
        |    (row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1)
        |      AS slot
        |  FROM g WHERE allowed)
        |SELECT doc_id, domain, path, slot,
        |  (slot * coalesce(crawl_delay_sec, 1.0::DOUBLE)) AS eta_sec
        |FROM r WHERE slot < 5 ORDER BY doc_id""".stripMargin,

    // the scheduler recomputed over the allowed subset of the gate
    // oracle: per-domain slot by doc_id order, ETA at the domain's
    // delay (2 s for kind 0, the 1 s default elsewhere)
    "q_politeness_schedule" ->
      """WITH g AS (SELECT doc_id,
        |    'd' || (doc_id % 50)::VARCHAR || '.test' AS domain,
        |    CASE doc_id % 6
        |      WHEN 0 THEN '/a/b' || doc_id::VARCHAR
        |      WHEN 1 THEN '/private/x' || doc_id::VARCHAR
        |      WHEN 2 THEN '/private/ok/y' || doc_id::VARCHAR
        |      WHEN 3 THEN '/doc' || doc_id::VARCHAR || '.pdf'
        |      WHEN 4 THEN '/nobot/z' || doc_id::VARCHAR
        |      ELSE '/doc' || doc_id::VARCHAR || '.pdf?x=1' END AS path,
        |    CASE WHEN (doc_id % 50) % 3 = 2 THEN true
        |         WHEN (doc_id % 50) % 3 = 1 THEN doc_id % 6 <> 4
        |         ELSE doc_id % 6 NOT IN (1, 3) END AS allowed,
        |    CASE WHEN (doc_id % 50) % 3 = 0 THEN 2.0::DOUBLE
        |         ELSE NULL END AS crawl_delay_sec
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, domain, path,
        |  (row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1)
        |    AS slot,
        |  ((row_number() OVER (PARTITION BY domain ORDER BY doc_id) - 1)
        |    * coalesce(crawl_delay_sec, 1.0::DOUBLE)) AS eta_sec
        |FROM g WHERE allowed ORDER BY doc_id""".stripMargin,

    // the composition recomputed: n = 1+(id%3) sitemap urls per
    // domain f<id>.test; robots by id%4 — 0 blocks /p1 (+1.5 s
    // delay), 2's graftbot group blocks /p2, 1 allows all (empty
    // Disallow), 3 has NO robots row (allowed, null delay)
    "q_frontier_pipeline" ->
      """WITH p AS (SELECT doc_id, (1 + doc_id % 3)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n)) AS j FROM p)
        |SELECT doc_id,
        |  'f' || doc_id::VARCHAR || '.test' AS domain,
        |  '/p' || j::VARCHAR || '?a=1&b=2' AS path,
        |  CASE WHEN doc_id % 4 = 0 THEN j <> 1
        |       WHEN doc_id % 4 = 2 THEN j <> 2
        |       ELSE true END AS allowed,
        |  CASE WHEN doc_id % 4 = 0 THEN 1.5::DOUBLE
        |       ELSE NULL END AS crawl_delay_sec
        |FROM s ORDER BY doc_id, path""".stripMargin,

    // the sixteen-way encode spec by id%16: meta families
    // (3/6/8/11/13/15) keep their tag in the text; legacy labels
    // canonicalize per WHATWG (iso-8859-1 → windows-1252, shift_jis →
    // windows-31j, gb2312 → GBK, korean → x-windows-949 UHC superset,
    // latin2 → ISO-8859-2, tis-620 → x-windows-874, iso-8859-8-i →
    // ISO-8859-8 per WHATWG ISO-8859-8-I); each family's marker
    // round-trips its charset
    "q_charset_decode" ->
      """SELECT doc_id,
        |  CASE doc_id % 16 WHEN 0 THEN 'UTF-8' WHEN 1 THEN 'UTF-16LE'
        |    WHEN 2 THEN 'windows-1252' WHEN 3 THEN 'windows-1252'
        |    WHEN 4 THEN 'UTF-8' WHEN 5 THEN 'windows-31j'
        |    WHEN 6 THEN 'EUC-JP' WHEN 7 THEN 'GBK' WHEN 8 THEN 'Big5'
        |    WHEN 9 THEN 'x-windows-949' WHEN 10 THEN 'ISO-8859-2'
        |    WHEN 11 THEN 'x-windows-874' WHEN 12 THEN 'windows-1253'
        |    WHEN 13 THEN 'ISO-8859-8' WHEN 14 THEN 'windows-1256'
        |    ELSE 'windows-1257' END AS charset,
        |  CASE doc_id % 16 WHEN 3 THEN '<meta charset="iso-8859-1">'
        |    WHEN 6 THEN '<meta charset="euc-jp">'
        |    WHEN 8 THEN '<meta charset="big5">'
        |    WHEN 11 THEN '<meta charset="tis-620">'
        |    WHEN 13 THEN '<meta charset="iso-8859-8-i">'
        |    WHEN 15 THEN '<meta charset="windows-1257">' ELSE '' END ||
        |  text ||
        |  CASE doc_id % 16 WHEN 5 THEN ' テスト' WHEN 6 THEN ' 日本語'
        |    WHEN 7 THEN ' 中文' WHEN 8 THEN ' 繁體字'
        |    WHEN 9 THEN ' 한국어뷁' WHEN 10 THEN ' čeština'
        |    WHEN 11 THEN ' ไทย' WHEN 12 THEN ' Ελληνικά'
        |    WHEN 13 THEN ' עברית' WHEN 14 THEN ' العربية'
        |    WHEN 15 THEN ' ąžuolas' ELSE ' café À' END ||
        |  (doc_id % 7)::VARCHAR AS decoded
        |FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the mixed-corpus spec by id%13: format name, dims for the visual
    // families, the per-family unit arithmetic (png/webp/tiff inner
    // rotations step by id//13 — see the fixture's modulus note)
    "q_media_triage" ->
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

    // the bp scaffold rendered by the markdown rules: nav/ad/footer
    // anchors become link lines, the doc text is the middle block
    "q_warc_markdown" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE doc_id IS NOT NULL)
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

    // the round trip must be LOSSLESS: identical rendering to
    // q_warc_markdown over the full documents table
    "q_warc_repack" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE doc_id IS NOT NULL)
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

    // the warc-markdown rendering RESTRICTED to the index-selected ids:
    // the synthesized 404s (%11==3) and non-HTML rows (%13==5) must be
    // absent — the witness that the ranged fetch read only the members
    // the index filter selected
    "q_ccindex_fetch" ->
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

    // the delta subset: new urls (%5==0) plus changed content
    // (%7==0), inside the index-admitted rows AND the eng-language
    // gate (%3!=2 — 'deu'-only rows fail contains('eng'))
    "q_ccindex_delta" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL
        |    AND doc_id % 11 <> 3 AND doc_id % 13 <> 5
        |    AND doc_id % 3 <> 2
        |    AND (doc_id % 5 = 0 OR doc_id % 7 = 0))
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

    // the K-window delta subset: new urls (%6==1, absent from BOTH
    // history crawls but present in the out-of-window 2024-01 — the
    // pruning witness) plus changed content (%7==0), inside the
    // admitted rows AND the eng gate
    "q_ccindex_delta_k" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL
        |    AND doc_id % 11 <> 3 AND doc_id % 13 <> 5
        |    AND doc_id % 3 <> 2
        |    AND (doc_id % 6 = 1 OR doc_id % 7 = 0))
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

    // crawl-2 admitted rows: 404s (%11==3) out; %9==2 ids are
    // warc/revisit rows (IN — the resolver must surface them), the
    // rest follow the html/pdf mime rotation (%13==5 out). CROSS-URL
    // revisits ((id//9)%3==1) render the PREVIOUS doc's content under
    // the revisit's own url — the attribution the resolver carries
    // (falls back to self when id-1 is absent, mirroring the fixture)
    "q_ccindex_revisit" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE doc_id IS NOT NULL),
        |adm AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 2 AND (doc_id // 9) % 3 = 1
        |         THEN doc_id - 1 ELSE doc_id END AS want_id
        |  FROM documents
        |  WHERE doc_id IS NOT NULL
        |    AND doc_id % 11 <> 3
        |    AND (doc_id % 9 = 2 OR doc_id % 13 <> 5)),
        |src AS (SELECT adm.doc_id,
        |    coalesce(ref.doc_id, adm.doc_id) AS content_id,
        |    coalesce(ref.t, self.t) AS t
        |  FROM adm
        |  LEFT JOIN d ref ON ref.doc_id = adm.want_id
        |  JOIN d self ON self.doc_id = adm.doc_id)
        |SELECT 'https://docs.test/doc' || doc_id::VARCHAR || '.html'
        |    AS page_url,
        |  '[home](/) [about](/a) [links](/x)' ||
        |  CASE WHEN t = '' THEN '' ELSE chr(10) || chr(10) || t END ||
        |  CASE WHEN content_id % 4 = 0
        |       THEN chr(10) || chr(10) || '[click now](/b) [buy](/p)'
        |       ELSE '' END ||
        |  chr(10) || chr(10) || '[contact](/c) [terms](/t) c 2026'
        |    AS markdown
        |FROM src ORDER BY page_url""".stripMargin,

    // the CDXJ path must fetch the identical subset: same rendering,
    // same excluded synthesized 404s/non-HTML rows
    "q_cdxj_fetch" ->
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

    // the legacy CDX path must fetch the IDENTICAL subset as the CDXJ
    // path — same rendering, same excluded rows (the equivalence
    // between the two text index forms is the oracle)
    "q_cdx_legacy" ->
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

    // the mixed corpus's pdf family (%13==7) inside the admitted rows
    // (%11<>3): classic-xref 1.4 docs, pages 1+id%2, the closed-form
    // Info dict the mixed fixture writes
    "q_ccindex_pdf" ->
      """SELECT doc_id,
        |  '1.4' AS version,
        |  (1 + doc_id % 2)::BIGINT AS n_pages,
        |  'Doc ' || doc_id::VARCHAR AS title,
        |  'a' AS author,
        |  'p' AS producer,
        |  'D:20240101000000' AS created,
        |  true AS xref_ok,
        |  false AS encrypted
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id % 13 = 7
        |  AND doc_id % 11 <> 3
        |ORDER BY doc_id""".stripMargin,

    // the q_media_triage arithmetic over the index-admitted ids only
    // (%11==3 rows are 404s the ranged path must never fetch)
    "q_ccindex_media" ->
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
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id % 11 <> 3
        |ORDER BY doc_id""".stripMargin,

    // the revisit-resolved media fetch must triage IDENTICALLY to the
    // direct one: %9==2 ids exist only as revisit records in crawl 2,
    // so their rows witness the binary resolution path
    "q_ccindex_media_revisit" ->
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
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id % 11 <> 3
        |ORDER BY doc_id""".stripMargin,

    // the re-pack circle must be LOSSLESS: identical triage arithmetic
    // to q_ccindex_media over the same admitted ids — any byte, status
    // or mime the sink mangles breaks a family's closed form
    "q_warc_repack_media" ->
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
        |FROM documents
        |WHERE doc_id IS NOT NULL AND doc_id % 11 <> 3
        |ORDER BY doc_id""".stripMargin,

    // the prefix-selected subset: decimal id starts with '1', inside
    // the same admitted rows as the full fetch, AND the eng-language
    // gate over the JSON block's languages field (%3!=2)
    "q_cdxj_lookup" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL
        |    AND doc_id % 11 <> 3 AND doc_id % 13 <> 5
        |    AND doc_id % 3 <> 2
        |    AND doc_id::VARCHAR LIKE '1%')
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

    // the engine-written clustered layout must serve the IDENTICAL
    // prefix query as q_cdxj_lookup over the fixture's layout
    "q_cdxj_repack" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents
        |  WHERE doc_id IS NOT NULL
        |    AND doc_id % 11 <> 3 AND doc_id % 13 <> 5
        |    AND doc_id % 3 <> 2
        |    AND doc_id::VARCHAR LIKE '1%')
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

    // every SURT rule recomputed in closed form: scheme/fragment
    // drop, www strip, host reversal, :8080 kept, the SCHEME-AWARE
    // default-port drop (:443 drops on https but is KEPT on http —
    // id%5==1 pairs it with both schemes; :80 drops on http),
    // path lowercased, query params sorted (b=2&a=N -> a=N&b=2);
    // ids %10==3 are bracketed IPv6 literals (kept whole, hex
    // lowercased, https:443 dropped / http:8443 kept) and %10==7
    // dotted-quad IPv4 (kept UNreversed, http:80 dropped) — the IP
    // no-reverse convention
    "q_surt_key" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 3 THEN
        |    (CASE WHEN (doc_id // 10) % 2 = 0
        |          THEN 'http' ELSE 'https' END) ||
        |    '://[2001:DB8::' || (doc_id % 9)::VARCHAR || ']' ||
        |    (CASE WHEN (doc_id // 10) % 2 = 0
        |          THEN ':8443' ELSE ':443' END) ||
        |    '/v6/item' || (doc_id % 7)::VARCHAR
        |  WHEN doc_id % 10 = 7 THEN
        |    (CASE WHEN (doc_id // 10) % 2 = 0
        |          THEN 'https://192.168.' || (doc_id % 20)::VARCHAR ||
        |               '.1/v4/item'
        |          ELSE 'http://192.168.' || (doc_id % 20)::VARCHAR ||
        |               '.1:80/v4/item' END) ||
        |    (doc_id % 7)::VARCHAR
        |  ELSE
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) ||
        |  '://' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END) ||
        |  'site' || (doc_id % 20)::VARCHAR || '.example' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':8080'
        |        WHEN doc_id % 5 = 1 THEN ':443' ELSE '' END) ||
        |  '/Path' || (doc_id % 7)::VARCHAR || '/item' ||
        |  (CASE WHEN doc_id % 4 = 0
        |        THEN '?b=2&a=' || (doc_id % 9)::VARCHAR
        |        WHEN doc_id % 4 = 1 THEN '?z=1' ELSE '' END) ||
        |  (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END)
        |  END AS url,
        |  CASE WHEN doc_id % 10 = 3 THEN
        |    '[2001:db8::' || (doc_id % 9)::VARCHAR || ']' ||
        |    (CASE WHEN (doc_id // 10) % 2 = 0 THEN ':8443' ELSE '' END) ||
        |    ')/v6/item' || (doc_id % 7)::VARCHAR
        |  WHEN doc_id % 10 = 7 THEN
        |    '192.168.' || (doc_id % 20)::VARCHAR ||
        |    '.1)/v4/item' || (doc_id % 7)::VARCHAR
        |  ELSE
        |  'example,site' || (doc_id % 20)::VARCHAR ||
        |  (CASE WHEN doc_id % 5 = 0 THEN ':8080'
        |        WHEN doc_id % 5 = 1 AND doc_id % 2 = 1 THEN ':443'
        |        ELSE '' END) ||
        |  ')/path' || (doc_id % 7)::VARCHAR || '/item' ||
        |  (CASE WHEN doc_id % 4 = 0
        |        THEN '?a=' || (doc_id % 9)::VARCHAR || '&b=2'
        |        WHEN doc_id % 4 = 1 THEN '?z=1' ELSE '' END)
        |  END AS surt_key
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // the markdown rendering of the fixture page, rebuilt literally:
    // blocks joined by blank lines, one-list items by single newlines.
    // The paragraph goes through the SAME whitespace-collapse rule the
    // renderer applies (identity on the current corpus, which is
    // collapse-stable — this keeps the oracle honest if the fixture
    // generator ever emits doubled spaces or an empty text).
    "q_html_markdown" ->
      """WITH d AS (SELECT doc_id,
        |    regexp_replace(trim(text), '\s+', ' ', 'g') AS t
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL)
        |SELECT doc_id,
        |  '# Doc ' || doc_id::VARCHAR || chr(10) || chr(10) ||
        |  CASE WHEN t = '' THEN '' ELSE t || chr(10) || chr(10) END ||
        |  '- item A' || (doc_id % 7)::VARCHAR || chr(10) ||
        |  '- **bold** B' || (doc_id % 5)::VARCHAR || chr(10) || chr(10) ||
        |  '1. first C' || (doc_id % 3)::VARCHAR || chr(10) ||
        |  '2. *second*' || chr(10) || chr(10) ||
        |  '```' || chr(10) || 'val x = ' || doc_id::VARCHAR || ' < ' ||
        |    (doc_id + 1)::VARCHAR || chr(10) || '```' || chr(10) || chr(10) ||
        |  '| k | v |' || chr(10) || '| --- | --- |' || chr(10) ||
        |  '| rows | ' || (doc_id % 9)::VARCHAR || ' |' || chr(10) ||
        |  '| **cols** | ' || (doc_id % 11)::VARCHAR || ' |' ||
        |    chr(10) || chr(10) ||
        |  '> quote ' || (doc_id % 3)::VARCHAR || chr(10) || chr(10) ||
        |  'See [link ' || (doc_id % 4)::VARCHAR || '](https://x.test/' ||
        |    doc_id::VARCHAR || ') and ![alt ' || (doc_id % 6)::VARCHAR ||
        |    '](i' || doc_id::VARCHAR || '.png) with `inline ' ||
        |    (doc_id % 2)::VARCHAR || '` code & entities.' AS markdown
        |FROM d ORDER BY doc_id""".stripMargin,

    // the image muxer twins recomputed: format by id%3 (png / webp /
    // avif), inner layout rotations by r = id//3 (within a residue
    // class mod 3, id%3 is constant — same modulus note as the mixed
    // corpus); dims by the shared 16-multiples; avif frames = iinf
    // item count
    "q_image_probe" ->
      """WITH p AS (SELECT doc_id, (doc_id // 4) AS r
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'webp'
        |    WHEN 2 THEN 'avif' ELSE 'tiff' END AS format,
        |  CASE doc_id % 4
        |    WHEN 0 THEN CASE WHEN r % 3 = 0 THEN 'static'
        |                ELSE 'apng' END
        |    WHEN 1 THEN CASE r % 3 WHEN 0 THEN 'vp8'
        |                WHEN 1 THEN 'vp8l' ELSE 'vp8x' END
        |    WHEN 2 THEN CASE WHEN r % 2 = 0 THEN 'avif' ELSE 'heic' END
        |    ELSE CASE WHEN r % 2 = 0 THEN 'none' ELSE 'packbits' END
        |    END AS kind,
        |  (16 * (1 + doc_id % 5))::BIGINT AS width,
        |  (16 * (1 + doc_id % 4))::BIGINT AS height,
        |  (CASE doc_id % 4
        |    WHEN 0 THEN 1 + r % 3
        |    WHEN 1 THEN CASE WHEN r % 3 = 2 THEN 2 + r % 2 ELSE 1 END
        |    ELSE 1 + r % 3 END)::BIGINT AS frames
        |FROM p ORDER BY doc_id""".stripMargin,

    // the WET round trip is lossless by format: conversion payload IS
    // the document text
    "q_wet_extract" ->
      """SELECT 'https://docs.test/doc' || doc_id::VARCHAR || '.html'
        |    AS page_url,
        |  text AS wet_text
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY page_url""".stripMargin,

    // the WET re-pack circle must render the identical table: read →
    // write → read is byte-lossless for sniff-safe UTF-8 text
    "q_wet_repack" ->
      """SELECT 'https://docs.test/doc' || doc_id::VARCHAR || '.html'
        |    AS page_url,
        |  text AS wet_text
        |FROM documents WHERE doc_id IS NOT NULL
        |ORDER BY page_url""".stripMargin,

    // the pdf muxer's spec recomputed: ceil(len/48) chunks (min 1),
    // 5 chunks per page, Info fields in closed form; xref validation
    // always passes on the twin
    "q_pdf_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN '1.5' ELSE '1.4' END AS version,
        |  CASE WHEN doc_id % 17 = 7 THEN 0 ELSE
        |    ((greatest(1, (length(text) + 47) // 48) + 4) // 5)
        |  END::BIGINT AS n_pages,
        |  CASE WHEN doc_id % 17 = 7 THEN ''
        |    ELSE 'Doc ' || doc_id::VARCHAR END AS title,
        |  CASE WHEN doc_id % 17 = 7 THEN ''
        |    ELSE 'Author' || (doc_id % 5)::VARCHAR END AS author,
        |  CASE WHEN doc_id % 17 = 7 THEN ''
        |    ELSE 'graft-pdf 1.0' END AS producer,
        |  CASE WHEN doc_id % 17 = 7 THEN ''
        |    ELSE printf('D:%04d%02d%02d%02d%02d%02d',
        |      2000 + doc_id % 22, 1 + doc_id % 12, 1 + doc_id % 28,
        |      doc_id % 24, doc_id % 60, doc_id % 60) END AS created,
        |  (doc_id % 17 <> 7) AS xref_ok,
        |  (doc_id % 17 = 7) AS encrypted
        |FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |ORDER BY doc_id""".stripMargin,

    // lossless modulo the uniform line rule: '\n' after every 48-char
    // chunk (page joins land on chunk boundaries, so one rule covers
    // both line moves and page breaks)
    "q_pdf_text" ->
      """WITH p AS (SELECT doc_id, text,
        |    greatest(1, (length(text) + 47) // 48) AS nc
        |  FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
        |    AND doc_id % 17 <> 7), -- encrypted docs: no plaintext
        |c AS (SELECT doc_id, text,
        |        unnest(generate_series(1, nc)) AS i FROM p)
        |SELECT doc_id,
        |  string_agg(substring(text, 1 + (i - 1) * 48, 48), chr(10)
        |    ORDER BY i) AS pdf_text
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the MPEG muxer's spec arithmetic recomputed: n = 2+(id%8)
    // pictures, slice = 8 + 30+((id+3i)%45) bytes, payload byte
    // (id*5+i)%251, I-frames every 3rd, 40 ms per picture
    "q_video_mpeg" ->
      """WITH p AS (SELECT doc_id, (2 + doc_id % 8)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |sz AS (SELECT doc_id, unnest(generate_series(1, n)) AS i FROM p),
        |tot AS (SELECT doc_id,
        |          sum(8 + 30 + (doc_id + 3 * i) % 45)::BIGINT
        |            AS total_sample_bytes
        |        FROM sz GROUP BY doc_id)
        |SELECT p.doc_id,
        |  CASE WHEN p.doc_id % 2 = 0 THEN 'mpeg-ps'
        |       ELSE 'mpeg-es' END AS brand,
        |  'mpeg1' AS codec,
        |  (16 * (1 + p.doc_id % 25))::BIGINT AS width,
        |  (16 * (1 + p.doc_id % 15))::BIGINT AS height,
        |  p.n AS n_samples,
        |  ((p.n + 2) // 3)::BIGINT AS n_keyframes,
        |  (40 * p.n)::BIGINT AS duration_ms,
        |  tot.total_sample_bytes,
        |  (38 + (p.doc_id + 3) % 45)::BIGINT AS kf1_size,
        |  ((p.doc_id * 5 + 1) % 251)::BIGINT AS kf1_first_byte,
        |  0::BIGINT AS media_time
        |FROM p JOIN tot USING (doc_id) ORDER BY p.doc_id""".stripMargin,

    // fragmented-only frame sampling, stride 2 over global sample index
    "q_video_frag_frames" ->
      """WITH p AS (SELECT doc_id,
        |    ((1 + doc_id % 4) * (2 + doc_id % 5))::BIGINT AS n
        |  FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n, 2)) AS i FROM p)
        |SELECT doc_id, ((i - 1) // 2)::BIGINT AS frame_idx,
        |  (40 + (doc_id + i) % 50)::BIGINT AS frame_len,
        |  ((doc_id * 3 + i) % 251)::BIGINT AS first_byte
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    "q_video_frames" ->
      """WITH p AS (SELECT doc_id, (1 + (doc_id % 7) * 3)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n, 2)) AS i FROM p)
        |SELECT doc_id, ((i - 1) // 2)::BIGINT AS frame_idx,
        |  (50 + (doc_id + i) % 64)::BIGINT AS frame_len,
        |  ((doc_id + i) % 251)::BIGINT AS first_byte
        |FROM s ORDER BY doc_id, frame_idx""".stripMargin,

    // keyframes are 1-based samples 1, 4, 7, ... (syncEvery = 3)
    "q_video_keyframes" ->
      """WITH p AS (SELECT doc_id, (1 + (doc_id % 7) * 3)::BIGINT AS n
        |           FROM documents WHERE doc_id IS NOT NULL),
        |s AS (SELECT doc_id, unnest(generate_series(1, n, 3)) AS i FROM p)
        |SELECT doc_id, ((i - 1) // 3)::BIGINT AS kf_idx,
        |  (50 + (doc_id + i) % 64)::BIGINT AS frame_len,
        |  ((doc_id + i) % 251)::BIGINT AS first_byte
        |FROM s ORDER BY doc_id, kf_idx""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  octet_length(encode(text))::BIGINT AS byte_len,
        |  64 + octet_length(encode(text))::BIGINT % 577 AS width,
        |  64 + (octet_length(encode(text))::BIGINT * 7) % 417 AS height,
        |  ascii(substr(text, 1, 1))::BIGINT AS luma
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_dup_spans" -> dupSpansOracle,
    "q_substring_dedup" -> substringDedupOracle,

    "q_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($tokensSql) AS token FROM documents),
         |tot AS (SELECT count(*)::BIGINT AS n_total FROM t),
         |c AS (SELECT token AS item, count(*)::BIGINT AS n
         |      FROM t GROUP BY token)
         |SELECT item, n FROM c, tot
         |WHERE n * 64 > n_total ORDER BY item""".stripMargin,

    "q_quality_lr" ->
      s"""WITH $qlrScoreCtes
         |SELECT doc_id, n_tokens, score_milli,
         |  CASE WHEN score_milli >= 0 THEN 'keep' ELSE 'drop' END AS label
         |FROM sc ORDER BY doc_id""".stripMargin,

    // bounded-domain cumulative over DISTINCT score classes (≤ 2001
    // rows in the window — never corpus rows), then the admit flag
    // joined back; a class is admitted only if it fits whole
    "q_token_budget" ->
      s"""WITH $qlrScoreCtes,
         |cls AS (SELECT score_milli, sum(n_tokens)::BIGINT AS ct
         |  FROM sc GROUP BY score_milli),
         |cum AS (SELECT score_milli,
         |    sum(ct) OVER (ORDER BY score_milli DESC
         |      ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_t
         |  FROM cls)
         |SELECT sc.doc_id, sc.n_tokens, sc.score_milli,
         |  (cum.cum_t <= 25000) AS selected
         |FROM sc JOIN cum USING (score_milli)
         |ORDER BY sc.doc_id""".stripMargin,

    "q_ppl_buckets" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents
         |            WHERE doc_id IS NOT NULL),
         |b AS (SELECT doc_id,
         |        unnest(list_transform(range(1, len(t)),
         |          i -> t[i] || ' ' || t[i+1])) AS bg
         |      FROM tk),
         |base AS (SELECT doc_id, ${Hashing.h32Sql("bg")} AS bgh,
         |           ${Hashing.h32Sql("split_part(bg, ' ', 1)")} AS w1h
         |         FROM b),
         |c2 AS (SELECT bgh, count(*) AS c2 FROM base GROUP BY bgh),
         |c1 AS (SELECT w1h, count(*) AS c1 FROM base GROUP BY w1h),
         |j AS (SELECT doc_id,
         |        ${graft.ext.LanguageModel.ilog2Sql("c1")}
         |          - ${graft.ext.LanguageModel.ilog2Sql("c2")} AS bits
         |      FROM base JOIN c2 USING (bgh) JOIN c1 USING (w1h)),
         |s AS (SELECT doc_id, count(*)::BIGINT AS nb,
         |        sum(bits)::BIGINT AS tb FROM j GROUP BY doc_id),
         |sc AS (SELECT doc_id,
         |         ((tb * 1000) // nb)::BIGINT AS score_milli_bits FROM s),
         |nn AS (SELECT count(*)::BIGINT AS n FROM sc),
         |dist AS (SELECT score_milli_bits AS sv, count(*)::BIGINT AS c
         |         FROM sc GROUP BY 1),
         |cum AS (SELECT sv, sum(c) OVER (ORDER BY sv
         |          ROWS UNBOUNDED PRECEDING) AS cum FROM dist),
         |th AS (SELECT
         |         min(CASE WHEN cum * 3 >= (SELECT n FROM nn)
         |             THEN sv END)::BIGINT AS t1,
         |         min(CASE WHEN cum * 3 >= 2 * (SELECT n FROM nn)
         |             THEN sv END)::BIGINT AS t2
         |       FROM cum)
         |SELECT doc_id, score_milli_bits,
         |  CASE WHEN score_milli_bits <= t1 THEN 'head'
         |       WHEN score_milli_bits <= t2 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM sc, th ORDER BY doc_id""".stripMargin,

    "q_surprisal" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents
         |            WHERE doc_id IS NOT NULL),
         |b AS (SELECT doc_id,
         |        unnest(list_transform(range(1, len(t)),
         |          i -> t[i] || ' ' || t[i+1])) AS bg
         |      FROM tk),
         |base AS (SELECT doc_id, ${Hashing.h32Sql("bg")} AS bgh,
         |           ${Hashing.h32Sql("split_part(bg, ' ', 1)")} AS w1h
         |         FROM b),
         |c2 AS (SELECT bgh, count(*) AS c2 FROM base GROUP BY bgh),
         |c1 AS (SELECT w1h, count(*) AS c1 FROM base GROUP BY w1h),
         |j AS (SELECT doc_id,
         |        ${graft.ext.LanguageModel.ilog2Sql("c1")}
         |          - ${graft.ext.LanguageModel.ilog2Sql("c2")} AS bits
         |      FROM base JOIN c2 USING (bgh) JOIN c1 USING (w1h)),
         |s AS (SELECT doc_id, count(*)::BIGINT AS n_bigrams,
         |        sum(bits)::BIGINT AS total_bits FROM j GROUP BY doc_id)
         |SELECT doc_id, n_bigrams, total_bits,
         |  ((total_bits * 1000) // n_bigrams)::BIGINT AS score_milli_bits
         |FROM s ORDER BY doc_id""".stripMargin,

    "q_bpe_train" -> bpeTrainOracle,
    "q_bpe_encode" -> bpeEncodeOracle,
    "q_bpe_encode_oov" -> bpeEncodeOovOracle,
    "q_curate_compose" -> curateComposeOracle,

    "q_incremental_neardup" -> incrementalNearDupOracle,

    "q_source_quality" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokensSql) AS token
         |           FROM documents WHERE doc_id IS NOT NULL),
         |s AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |        sum(${graft.ext.QualityModel.hashedWeightSql("token")})::BIGINT
         |          AS wsum
         |      FROM t GROUP BY doc_id),
         |sc AS (SELECT doc_id,
         |         ((wsum + 50) // n_tokens)::BIGINT AS score_milli
         |       FROM s),
         |j AS (SELECT d.source, sc.score_milli FROM documents d
         |      JOIN sc ON d.doc_id = sc.doc_id),
         |g AS (SELECT source, count(*)::BIGINT AS n_docs,
         |        (sum(score_milli) // count(*))::BIGINT AS mean_score_milli,
         |        sum(CASE WHEN score_milli >= 0 THEN 1 ELSE 0 END)::BIGINT
         |          AS n_keep
         |      FROM j GROUP BY source)
         |SELECT source, n_docs, mean_score_milli, n_keep,
         |  (n_keep * 1000 // n_docs)::BIGINT AS keep_share_milli,
         |  CASE WHEN (n_keep * 1000 // n_docs) >= 500 THEN 'keep_source'
         |       ELSE 'review' END AS verdict
         |FROM g ORDER BY source""".stripMargin,

    "q_nfc_normalize" ->
      """WITH d AS (SELECT doc_id,
        |    text || CASE WHEN doc_id % 3 = 0 THEN ' cafe' || chr(769)
        |                 WHEN doc_id % 3 = 1 THEN ' caf' || chr(233)
        |                 ELSE '' END AS t
        |  FROM documents WHERE doc_id IS NOT NULL)
        |SELECT doc_id, length(t)::INT AS len_raw,
        |  length(nfc_normalize(t))::INT AS len_nfc,
        |  md5(nfc_normalize(t)) AS fp_nfc
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_hash_embed" -> {
      val sums = (0 until 8).map(j =>
        s"sum(${graft.ext.QualityModel.hashedEmbeddingSql(j, "token")})::BIGINT AS v$j")
        .mkString(",\n         |  ")
      s"""WITH t AS (SELECT doc_id, unnest($tokensSql) AS token
         |           FROM documents WHERE doc_id IS NOT NULL)
         |SELECT doc_id,
         |  $sums
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q_snapshot_diff" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE doc_id IS NOT NULL),
        |v1 AS (SELECT doc_id, md5(text) AS fp1 FROM d
        |       WHERE doc_id % 10 <> 0),
        |v2 AS (SELECT doc_id,
        |         md5(CASE WHEN doc_id % 5 = 2 THEN text || ' v2'
        |             ELSE text END) AS fp2
        |       FROM d WHERE doc_id % 10 <> 1)
        |SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
        |  CASE WHEN fp1 IS NULL THEN 'added'
        |       WHEN fp2 IS NULL THEN 'removed'
        |       WHEN fp1 = fp2 THEN 'same' ELSE 'changed' END AS status
        |FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_fuzzy_pairs" ->
      """SELECT a.c_custkey::BIGINT AS id1, b.c_custkey::BIGINT AS id2,
        |  a.c_name AS str1, b.c_name AS str2,
        |  levenshtein(a.c_name, b.c_name)::BIGINT AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,

    "q_fuzzy_lookup" ->
      """WITH pr AS (
        |  SELECT c_custkey AS probe_id,
        |    substr(c_name, 1, (c_custkey % 9)::INT + 9) || 'x' ||
        |    substr(c_name, (c_custkey % 9)::INT + 11) AS probe_name
        |  FROM customer WHERE c_custkey % 125 = 1)
        |SELECT pr.probe_id::BIGINT AS id1, c.c_custkey::BIGINT AS id2,
        |  pr.probe_name AS str1, c.c_name AS str2,
        |  levenshtein(pr.probe_name, c.c_name)::BIGINT AS dist
        |FROM pr JOIN customer c
        |  ON levenshtein(pr.probe_name, c.c_name) <= 1
        |ORDER BY id1, id2""".stripMargin,

    "q_fuzzy_names_d2" ->
      """WITH n AS (SELECT p_name, min(p_partkey) AS id
        |           FROM part GROUP BY p_name)
        |SELECT a.id::BIGINT AS id1, b.id::BIGINT AS id2,
        |  a.p_name AS str1, b.p_name AS str2,
        |  levenshtein(a.p_name, b.p_name)::BIGINT AS dist
        |FROM n a JOIN n b ON a.id < b.id
        |WHERE levenshtein(a.p_name, b.p_name) <= 2
        |ORDER BY id1, id2""".stripMargin,

    "q_phrase_search" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents
         |            WHERE doc_id IS NOT NULL),
         |tox AS (SELECT doc_id,
         |          unnest(range(1, len(t) + 1)) - 1 AS pos,
         |          unnest(t) AS token FROM tk),
         |p0 AS (SELECT doc_id, pos AS p0 FROM tox WHERE token = 'slow'),
         |p1 AS (SELECT doc_id, pos - 1 AS p0 FROM tox WHERE token = 'hash'),
         |p2 AS (SELECT doc_id, pos - 2 AS p0 FROM tox WHERE token = 'batch')
         |SELECT doc_id, count(*)::BIGINT AS n_matches
         |FROM p0 JOIN p1 USING (doc_id, p0) JOIN p2 USING (doc_id, p0)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
         |    ((n_chars * ${1L << 32}) //
         |      (${Hashing.h32Sql("'ps|' || doc_id::VARCHAR")} + 1))::BIGINT
         |      AS priority
         |  FROM documents WHERE n_chars > 0)
         |SELECT doc_id, n_chars, priority FROM d
         |ORDER BY priority DESC, doc_id LIMIT 50""".stripMargin,

    "q_collocations" ->
      s"""WITH tk AS (SELECT doc_id, $tokensSql AS t FROM documents
         |            WHERE doc_id IS NOT NULL),
         |b AS (SELECT unnest(list_transform(range(1, len(t)),
         |        i -> t[i] || ' ' || t[i+1])) AS bigram FROM tk),
         |base AS (SELECT bigram, split_part(bigram, ' ', 1) AS w1,
         |           split_part(bigram, ' ', 2) AS w2 FROM b),
         |cc2 AS (SELECT bigram, w1, w2, count(*)::BIGINT AS c2
         |        FROM base GROUP BY bigram, w1, w2
         |        HAVING count(*) >= 5),
         |c1a AS (SELECT w1, count(*)::BIGINT AS c1a FROM base GROUP BY w1),
         |c1b AS (SELECT w2, count(*)::BIGINT AS c1b FROM base GROUP BY w2),
         |n AS (SELECT count(*)::BIGINT AS n_total FROM base)
         |SELECT bigram, c2, c1a, c1b,
         |  ((c2 * n_total * 1000) // (c1a * c1b))::BIGINT AS lift_milli
         |FROM cc2 JOIN c1a USING (w1) JOIN c1b USING (w2), n
         |ORDER BY lift_milli DESC, bigram LIMIT 25""".stripMargin,

    "q_zorder" ->
      s"""WITH e AS (SELECT event_id, user_id,
         |             round(value*100)::BIGINT AS value_c FROM events)
         |SELECT event_id, user_id, value_c,
         |  ${graft.ops.ZOrder.interleave2Sql("user_id", "value_c", 16)}::BIGINT
         |    AS z
         |FROM e ORDER BY z, event_id LIMIT 100""".stripMargin
  )

  /** Mirrors q_curate_compose: the same three stages chained, every
    * formula fragment shared with the per-stage oracles
    * (hashedWeightSql / h32Sql / ilog2Sql), corpus-relative counts
    * computed over the KEPT corpus.
    */
  private def curateComposeOracle: String = {
    val gram = (0 until 5).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""WITH dq AS (SELECT doc_id, text FROM documents
       |            WHERE doc_id IS NOT NULL),
       |tw AS (SELECT doc_id, unnest($tokensSql) AS token FROM dq),
       |sq AS (SELECT doc_id, count(*)::BIGINT AS n_tokens,
       |         sum(${graft.ext.QualityModel.hashedWeightSql("token")})::BIGINT
       |           AS wsum
       |       FROM tw GROUP BY doc_id),
       |ki AS (SELECT doc_id, ((wsum + 50) // n_tokens)::BIGINT AS score_milli
       |       FROM sq WHERE ((wsum + 50) // n_tokens) >= 0),
       |kept AS (SELECT d.doc_id, d.text, k.score_milli
       |         FROM dq d JOIN ki k USING (doc_id)),
       |tk AS (SELECT doc_id, $tokensSql AS t FROM kept),
       |gr AS (SELECT doc_id,
       |         unnest(range(1, len(t) - 3)) - 1 AS pos,
       |         unnest(list_transform(range(1, len(t) - 3), i -> $gram))
       |           AS gstr
       |       FROM tk),
       |gh AS (SELECT doc_id, pos::BIGINT AS pos,
       |         ${Hashing.h32Sql("gstr")} AS g FROM gr),
       |oc AS (SELECT g, count(*) AS occ FROM gh GROUP BY g),
       |ds AS (SELECT doc_id, pos FROM gh JOIN oc USING (g)
       |       WHERE occ >= 2),
       |cov AS (SELECT DISTINCT doc_id, idx FROM (
       |  SELECT doc_id, unnest(range(pos, pos + 5)) AS idx FROM ds)),
       |tox AS (SELECT doc_id,
       |          unnest(range(1, len(t) + 1)) - 1 AS idx,
       |          unnest(t) AS token
       |        FROM tk),
       |kp AS (SELECT x.doc_id, count(*)::BIGINT AS n_kept,
       |         md5(array_to_string(list(x.token ORDER BY x.idx), ' '))
       |           AS clean_fp
       |       FROM tox x LEFT JOIN cov c
       |         ON x.doc_id = c.doc_id AND x.idx = c.idx
       |       WHERE c.idx IS NULL GROUP BY x.doc_id),
       |cl AS (SELECT tk.doc_id,
       |         (len(t) - coalesce(n_kept, 0))::BIGINT AS n_removed,
       |         coalesce(clean_fp, md5('')) AS clean_fp
       |       FROM tk LEFT JOIN kp USING (doc_id)),
       |b AS (SELECT doc_id,
       |        unnest(list_transform(range(1, len(t)),
       |          i -> t[i] || ' ' || t[i+1])) AS bg
       |      FROM tk),
       |lmb AS (SELECT doc_id, ${Hashing.h32Sql("bg")} AS bgh,
       |          ${Hashing.h32Sql("split_part(bg, ' ', 1)")} AS w1h
       |        FROM b),
       |c2 AS (SELECT bgh, count(*) AS c2 FROM lmb GROUP BY bgh),
       |c1 AS (SELECT w1h, count(*) AS c1 FROM lmb GROUP BY w1h),
       |j AS (SELECT doc_id,
       |        ${graft.ext.LanguageModel.ilog2Sql("c1")}
       |          - ${graft.ext.LanguageModel.ilog2Sql("c2")} AS bits
       |      FROM lmb JOIN c2 USING (bgh) JOIN c1 USING (w1h)),
       |lm AS (SELECT doc_id, count(*)::BIGINT AS nb,
       |         sum(bits)::BIGINT AS tb FROM j GROUP BY doc_id)
       |SELECT k.doc_id, k.score_milli, cl.n_removed, cl.clean_fp,
       |  coalesce((lm.tb * 1000) // lm.nb, -1)::BIGINT AS lm_milli_bits
       |FROM ki k JOIN cl ON k.doc_id = cl.doc_id
       |LEFT JOIN lm ON k.doc_id = lm.doc_id
       |ORDER BY k.doc_id""".stripMargin
  }

  /** Mirrors q_bpe_train: word-type table + 3 generated merge-round
    * CTE blocks — identical greedy-island arithmetic to
    * graft.ext.BpeTrainer (odd island ranks merge).
    */
  private def bpeTrainOracle: String =
    s"""${bpeCtePrefix(bpeRoundSql)}
       |SELECT 1::BIGINT AS round, s1, s2, pf FROM top0
       |UNION ALL SELECT 2::BIGINT, s1, s2, pf FROM top1
       |UNION ALL SELECT 3::BIGINT, s1, s2, pf FROM top2
       |ORDER BY round""".stripMargin

  /** Encode oracle: the t3 segmentation joined back onto positioned
    * document tokens; fingerprint = md5 of the in-order subword stream
    * (DuckDB string_agg ORDER BY pos ≙ Spark's sorted collect+flatten).
    */
  private def bpeEncodeOracle: String = bpeEncodeSql(
    trainWhere = "doc_id IS NOT NULL", encodeWhere = "doc_id IS NOT NULL")

  /** Cross-corpus OOV encode oracle: train on the first half of the
    * corpus, encode the second — OOV words (absent from t3) fall back
    * to their per-character split, mirroring BpeTrainer.encode's
    * left-join + coalesce (Sennrich §3.2 zero-merge baseline).
    */
  private def bpeEncodeOovOracle: String = bpeEncodeSql(
    trainWhere = "doc_id < 250", encodeWhere = "doc_id >= 250")

  /** Shared encode-oracle body: LEFT join onto the trained t3
    * segmentation with char-split fallback + an n_oov census, exactly
    * the Spark encode's shape (same-corpus encode has n_oov = 0 by
    * construction, so the left join degenerates to the old inner form).
    */
  private def bpeEncodeSql(trainWhere: String,
      encodeWhere: String): String =
    s"""${bpeCtePrefix(bpeRoundSql, trainWhere)},
       |tk AS (SELECT doc_id, $tokensSql AS t FROM documents
       |  WHERE $encodeWhere),
       |tok AS (SELECT doc_id,
       |    unnest(range(1, len(t) + 1)) - 1 AS pos,
       |    unnest(t) AS w FROM tk),
       |enc AS (SELECT tok.doc_id, tok.pos,
       |    CASE WHEN t3.w IS NULL THEN 1 ELSE 0 END AS oov,
       |    coalesce(t3.syms, list_transform(
       |      range(1, length(tok.w) + 1),
       |      i -> substr(tok.w, i::INT, 1))) AS syms
       |  FROM tok LEFT JOIN t3 ON tok.w = t3.w
       |  WHERE tok.w IS NOT NULL AND tok.w <> '')
       |SELECT doc_id, count(*)::BIGINT AS n_words,
       |  sum(len(syms))::BIGINT AS n_subwords,
       |  sum(oov)::BIGINT AS n_oov,
       |  md5(string_agg(array_to_string(syms, ' '), ' ' ORDER BY pos))
       |    AS enc_fp
       |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def bpeRoundSql(r: Int): String =
      s"""pr$r AS (SELECT w, freq,
         |    unnest(range(1, len(syms))) AS p,
         |    unnest(list_transform(range(1, len(syms)), i -> syms[i])) AS s1,
         |    unnest(list_transform(range(1, len(syms)), i -> syms[i+1])) AS s2
         |  FROM t$r),
         |top$r AS (SELECT s1, s2, sum(freq)::BIGINT AS pf FROM pr$r
         |  GROUP BY 1, 2 ORDER BY pf DESC, s1, s2 LIMIT 1),
         |m$r AS (SELECT p.w, p.p FROM pr$r p
         |  JOIN top$r t ON p.s1 = t.s1 AND p.s2 = t.s2),
         |i$r AS (SELECT w, p,
         |    CASE WHEN p <= lag(p) OVER (PARTITION BY w ORDER BY p) + 1
         |      THEN 0 ELSE 1 END AS nf
         |  FROM m$r),
         |ii$r AS (SELECT w, p, sum(nf) OVER (PARTITION BY w ORDER BY p
         |    ROWS UNBOUNDED PRECEDING) AS isl FROM i$r),
         |ch$r AS (SELECT w, p FROM (
         |    SELECT w, p, row_number() OVER (PARTITION BY w, isl
         |      ORDER BY p) AS rn FROM ii$r)
         |  WHERE rn % 2 = 1),
         |po$r AS (SELECT w, freq, unnest(range(1, len(syms) + 1)) AS p,
         |    unnest(syms) AS sym FROM t$r),
         |t${r + 1} AS (
         |  SELECT po.w, min(po.freq) AS freq,
         |    list(CASE WHEN ch.p IS NOT NULL THEN po.sym || nx.sym
         |         ELSE po.sym END ORDER BY po.p) AS syms
         |  FROM po$r po
         |  LEFT JOIN ch$r ch ON po.w = ch.w AND po.p = ch.p
         |  LEFT JOIN ch$r cc ON po.w = cc.w AND po.p = cc.p + 1
         |  LEFT JOIN po$r nx ON po.w = nx.w AND nx.p = po.p + 1
         |  WHERE cc.p IS NULL
         |  GROUP BY po.w)""".stripMargin

  /** Shared 3-round BPE CTE stack (word types c/t0, then t1..t3 via the
    * generated merge rounds) — the train oracle reads the top pairs,
    * the encode oracle reads the final segmentation table t3.
    */
  private def bpeCtePrefix(round: Int => String,
      trainWhere: String = "doc_id IS NOT NULL"): String =
    s"""WITH c AS (
       |  SELECT w, count(*)::BIGINT AS freq FROM (
       |    SELECT unnest($tokensSql) AS w FROM documents
       |    WHERE $trainWhere)
       |  WHERE w IS NOT NULL AND w <> '' GROUP BY w),
       |t0 AS (SELECT w, freq,
       |    list_transform(range(1, length(w) + 1),
       |      i -> substr(w, i::INT, 1)) AS syms
       |  FROM c),
       |${round(0)},
       |${round(1)},
       |${round(2)}""".stripMargin

  /** Shared CTE prefix for the substring-dedup pair: 0-based positioned
    * 5-grams, corpus occurrence counts, duplicated start positions.
    * Gram text built with `||` (null-propagating, = Spark `concat`);
    * DuckDB list slices are 1-based inclusive, positions re-based to 0
    * to match posexplode.
    */
  private def dupStartsSqlPrefix: String = {
    val gram = (0 until 5).map(k => s"t[i+$k]").mkString(" || ' ' || ")
    s"""WITH tk AS (
       |  SELECT doc_id, $tokensSql AS t FROM documents
       |  WHERE doc_id IS NOT NULL),
       |gr AS (
       |  SELECT doc_id,
       |    unnest(range(1, len(t) - 3)) - 1 AS pos,
       |    unnest(list_transform(range(1, len(t) - 3), i -> $gram)) AS gstr
       |  FROM tk),
       |gh AS (SELECT doc_id, pos::BIGINT AS pos,
       |         ${Hashing.h32Sql("gstr")} AS g FROM gr),
       |oc AS (SELECT g, count(*) AS occ FROM gh GROUP BY g),
       |d AS (SELECT doc_id, pos FROM gh JOIN oc USING (g)
       |      WHERE occ >= 2)""".stripMargin
  }

  private def dupSpansOracle: String =
    s"""$dupStartsSqlPrefix,
       |f AS (SELECT doc_id, pos,
       |        CASE WHEN pos <= lag(pos) OVER
       |            (PARTITION BY doc_id ORDER BY pos) + 5
       |          THEN 0 ELSE 1 END AS nf
       |      FROM d),
       |i AS (SELECT doc_id, pos,
       |        sum(nf) OVER (PARTITION BY doc_id ORDER BY pos
       |          ROWS UNBOUNDED PRECEDING) AS isl
       |      FROM f)
       |SELECT doc_id, min(pos)::BIGINT AS span_start,
       |  (max(pos) + 4)::BIGINT AS span_end, count(*)::BIGINT AS n_starts
       |FROM i GROUP BY doc_id, isl ORDER BY doc_id, span_start""".stripMargin

  private def substringDedupOracle: String =
    s"""$dupStartsSqlPrefix,
       |cov AS (SELECT DISTINCT doc_id, idx FROM (
       |  SELECT doc_id, unnest(range(pos, pos + 5)) AS idx FROM d)),
       |tox AS (SELECT doc_id,
       |          unnest(range(1, len(t) + 1)) - 1 AS idx,
       |          unnest(t) AS token
       |        FROM tk),
       |kept AS (SELECT x.doc_id, count(*)::BIGINT AS n_kept,
       |           md5(array_to_string(list(x.token ORDER BY x.idx), ' '))
       |             AS clean_fp
       |         FROM tox x LEFT JOIN cov c
       |           ON x.doc_id = c.doc_id AND x.idx = c.idx
       |         WHERE c.idx IS NULL GROUP BY x.doc_id)
       |SELECT tk.doc_id, len(t)::BIGINT AS n_tokens,
       |  (len(t) - coalesce(n_kept, 0))::BIGINT AS n_removed,
       |  coalesce(clean_fp, md5('')) AS clean_fp
       |FROM tk LEFT JOIN kept USING (doc_id) ORDER BY doc_id""".stripMargin
}
