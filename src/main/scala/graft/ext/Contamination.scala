package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Corpus-level n-gram operators: exact duplicated-n-gram share (the
  * Lee et al. "Deduplicating Training Data" signal — how much of each
  * document is verbatim-repeated elsewhere in the corpus) and benchmark
  * decontamination (the GPT-3-style n-gram overlap check that keeps eval
  * sets out of training data).
  *
  * Scale design: every candidate structure is an 8-byte hashed n-gram
  * key. The duplication share is one explode + one (gram → doc-frequency)
  * hash aggregation + one equi-join back — shuffle bytes are
  * O(gram count), never pairwise. Decontamination joins the corpus
  * against a BROADCAST benchmark gram set: benchmark suites are tiny
  * (thousands of docs) next to a 100 TB corpus, so the corpus side never
  * shuffles at all.
  */
object Contamination {

  /** Space-joined n-grams of a token array; empty when the document has
    * fewer than n tokens.
    *
    * Preferred form: the native codegen [[graft.functions.WordNGrams]]
    * (one pass, one `concatWs` per gram, whole-stage-codegen'd). The
    * composed fallback — n-1 `zip_with`s over shifted `slice`s — is
    * kept for bare Column construction with no active session, and as
    * the semantic reference the native form is property-tested against
    * (NGramsParitySpec). History of the composed form's own shape: NOT
    * a `transform(sequence(...), i -> concat_ws(element_at × n))` —
    * higher-order lambdas run interpreted, and the element_at/concat_ws
    * body measured ~10× slower than the zip_with form at sf0.1 (6.6 s
    * vs 0.7 s for the bare gram explode — SCALING.md "Deleted probes").
    * The `when` guard keeps the empty case from evaluating slice with a
    * non-positive length, and `concat` (unlike concat_ws)
    * null-propagates exactly like the DuckDB oracle's `||`.
    */
  def ngrams(words: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.functions.GraftFunctions.register(s)
        call_function(graft.functions.GraftFunctions.NGramsName,
          words, lit(n))
      case None => ngramsComposed(words, n)
    }
  }

  /** Composed-builtin reference form of [[ngrams]]; semantics pinned
    * equal to the native expression by NGramsParitySpec.
    */
  def ngramsComposed(words: Column, n: Int): Column = {
    require(n >= 1, "n-gram size must be >= 1")
    val cnt = size(words) - (n - 1)
    val joined = (1 until n).foldLeft(slice(words, lit(1), cnt)) {
      (acc, k) =>
        zip_with(acc, slice(words, lit(k + 1), cnt),
          (a, b) => concat(a, lit(" "), b))
    }
    when(cnt > 0, joined).otherwise(array().cast("array<string>"))
  }

  /** Distinct h32-hashed n-grams per document: (doc_id, g) rows.
    *
    * Shape matters here, measured at sf0.1 (5× total):
    *  - the token array is STAGED as its own projection ([[ngrams]]
    *    references it n + 1 times; a non-attribute array expression would
    *    be re-inlined into every element_at);
    *  - the grams are hashed AFTER the explode, in a plain Project, NOT
    *    via transform(..., h32) before it: a hash inside the lambda runs
    *    interpreted (higher-order functions don't codegen), and worse,
    *    InferFiltersFromGenerate copies the whole generator expression
    *    into a `size(...) > 0` filter below the Generate — with the hash
    *    in the array that re-evaluates one md5 per gram per copy;
    *  - per-document dedup is a (doc_id, g) aggregate after the explode
    *    instead of array_distinct before it, for the same reason. The
    *    extra exchange carries 16-byte rows and is reused by every
    *    downstream consumer that shuffles on the same keys.
    */
  private def hashedGramRows(docs: DataFrame, idCol: String, words: Column,
      n: Int): DataFrame =
    docs
      // explicit, not inference-dependent: downstream this subtree is
      // consumed TWICE (per-doc rows + df counts), and the outer join
      // infers isnotnull(id) into only ONE branch — structurally
      // different twins can't share their exchange, so the explode and
      // its shuffle ran twice (found via the local-cluster probe, where
      // the doubled exchange serializes for real). Filtering at the
      // source makes the branches canonical twins and AQE reuses the
      // stage. Null-id docs were no-ops anyway: they could feed df
      // counts but never receive a result row (null joins nothing).
      .where(col(idCol).isNotNull)
      .select(col(idCol), words.as("_tk"))
      .select(col(idCol), explode(ngrams(col("_tk"), n)).as("gstr"))
      .select(col(idCol), Hashing.h32(col("gstr")).as("g"))
      .distinct()

  /** Per-document duplicated-n-gram share: of a document's DISTINCT
    * hashed n-grams, the fraction that occur in at least `minDf + 1`
    * documents (minDf = 1 → "appears in any other document"). Documents
    * with fewer than n tokens report 0 grams and share 0.0.
    *
    * Output: (doc_id, n_grams, dup_grams, dup_share).
    */
  def duplicatedNgramShare(docs: DataFrame, idCol: String, words: Column,
      n: Int, minDf: Int = 1): DataFrame = {
    val grams = hashedGramRows(docs, idCol, words, n)
    // gram doc-frequency via a COMBINABLE groupBy + join-back, not a
    // count-over-window on g: the very grams this signal exists to
    // flag (boilerplate repeated corpus-wide) are hot keys, and a
    // window puts each one's whole group in a single partition with no
    // map-side partial. The join is AQE-skew-splittable (df side is
    // one row per gram); the gram subtree being consumed twice is
    // map-side-only duplication (the same trade as Assembly.topTerms).
    val gramDf = grams.groupBy("g").agg(count(lit(1)).as("df"))
    val withDf = grams.join(gramDf, "g")
    val perDoc = withDf
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") > minDf, 1L).otherwise(0L)).as("dup_grams"))
    docs.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("dup_grams"), lit(0L)).as("dup_grams"))
      .withColumn("dup_share",
        when(col("n_grams") > 0,
          col("dup_grams").cast("double") / col("n_grams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Benchmark decontamination: corpus documents sharing at least one
    * hashed n-gram with the benchmark set, with the count of distinct
    * shared grams. The benchmark gram set is broadcast — the corpus-side
    * plan is scan → explode → broadcast semi-ish join → one hash agg,
    * with no corpus shuffle before the (tiny) per-hit aggregation.
    *
    * Output: (doc_id, n_hits) for hit documents only.
    */
  /** The distinct hashed n-gram set of a benchmark corpus — one `g`
    * column, the static side every decontamination join broadcasts
    * (batch [[decontaminate]] and the streaming alert operator).
    */
  def benchmarkGrams(benchmark: DataFrame, idCol: String, words: Column,
      n: Int): DataFrame =
    hashedGramRows(benchmark, idCol, words, n).select(col("g")).distinct()

  def decontaminate(corpus: DataFrame, benchmark: DataFrame, idCol: String,
      words: Column, n: Int): DataFrame =
    hashedGramRows(corpus, idCol, words, n)
      .join(broadcast(benchmarkGrams(benchmark, idCol, words, n)), "g")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hits"))

  /** Cross-split leakage audit — the post-assignment check that a
    * train/val/test split did not leave near-verbatim eval text in
    * train: for every TRAIN document, how many of its distinct hashed
    * n-grams also occur anywhere outside the train split. Run after
    * [[Assembly.splitColumn]]; a nonzero tail means eval answers are
    * memorizable from train and the split needs document- or
    * cluster-level grouping instead of row-level hashing.
    *
    * Scale design: one explode + per-(doc,g) distinct (combinable);
    * the eval gram set is a distinct projection of the SAME gram rows
    * (no second corpus pass); the leak join is equi on the 8-byte gram
    * hash — unlike [[decontaminate]]'s broadcast benchmark, the eval
    * side here is a corpus-scale fraction, so it stays a shuffle join
    * (skew on a boilerplate gram splits under AQE). Train documents
    * with fewer than n tokens have no grams and are absent.
    *
    * Output: (idCol, n_grams, leaked_grams) for train documents.
    */
  def splitLeakage(docs: DataFrame, idCol: String, words: Column,
      split: Column, trainName: String, n: Int = 5): DataFrame = {
    val staged = docs
      .select(col(idCol), split.as("_split"), words.as("_tk"))
      .select(col(idCol), col("_split"),
        explode(ngrams(col("_tk"), n)).as("gstr"))
      .select(col(idCol), col("_split"), Hashing.h32(col("gstr")).as("g"))
      .distinct()
    val evalGrams = staged.where(col("_split") =!= trainName)
      .select("g").distinct()
    val train = staged.where(col("_split") === trainName)
    // one left join + ONE per-doc aggregation: evalGrams is distinct,
    // so each train gram matches at most once and the hit marker sums
    // to the leak count — a separate inner-join aggregate plus a
    // doc-level re-join would spend two more exchanges for the same
    // answer
    train.join(evalGrams.withColumn("_hit", lit(1L)), Seq("g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("_hit"), lit(0L))).as("leaked_grams"))
  }

  /** Bloom-prefiltered EXACT key anti-join: drop every corpus row whose
    * `keyCol` appears in `blockset`, with a bloom filter carrying the
    * brunt of the work. The result is exact regardless of the bloom's
    * false-positive rate — the bloom only decides which rows take the
    * cheap path:
    *
    *  - `might_contain == false` (the overwhelming majority at corpus
    *    scale): PROVABLY clean, kept without ever touching a join.
    *  - `might_contain == true` (true hits + the small FP tail): settled
    *    by a real anti-join against the distinct key set.
    *
    * Why not just broadcast-anti-join everything: a broadcast hash
    * relation stores the full key set per executor (a 1 B-key blockset
    * is tens of GB — unbroadcastable, forcing a full corpus shuffle),
    * while the equivalent bloom at 1% FPP is ~1.2 GB and the anti-join
    * then only sees the candidate sliver. This is Catalyst's own
    * InjectRuntimeFilter trade, made explicit and composable.
    *
    * NULL keys never match anything (SQL join semantics) and would
    * diverge from `NOT IN` oracles — callers must pre-filter null keys;
    * this function asserts nothing and simply keeps them (anti-join
    * semantics).
    *
    * Uses Catalyst's BloomFilterAggregate/BloomFilterMightContain via a
    * scalar subquery, so the whole thing stays one declarative plan (the
    * subquery result is computed once and reused across both branches).
    */
  def bloomAntiJoin(corpus: DataFrame, blockset: DataFrame, keyCol: String,
      estimatedItems: Long = 1000000L): DataFrame = {
    val spark = corpus.sparkSession
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.{BloomAggName, BloomMightContainName}
    val bloom = blockset
      .agg(call_function(BloomAggName, xxhash64(col(keyCol)),
        lit(estimatedItems)).as("bf"))
    // bloom_filter_agg over ZERO rows yields NULL, and might_contain(NULL)
    // is NULL — which would route every row into neither branch; an empty
    // blockset must mean "nothing blocked", i.e. maybe = false
    val maybe = coalesce(call_function(BloomMightContainName, bloom.scalar(),
      xxhash64(col(keyCol))), lit(false))
    val clean = corpus.where(!maybe)
    val candidates = corpus.where(maybe)
      .join(blockset.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    clean.unionByName(candidates)
  }
}
