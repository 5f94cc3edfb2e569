package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed BPE merge training (Sennrich/Haddow/Birch, "Neural
  * Machine Translation of Rare Words with Subword Units", ACL 2016 —
  * the tokenizer-training algorithm behind GPT/LLaMA-style BPE
  * vocabularies): count word types once over the corpus, then
  * iteratively (a) count adjacent symbol pairs weighted by word
  * frequency, (b) pick the most frequent pair, (c) merge its
  * occurrences greedily left-to-right. The learned merge list IS the
  * tokenizer artifact.
  *
  * Greedy left-to-right non-overlapping semantics (the part naive
  * relational ports get wrong for runs like "aaa" + pair (a,a)) is
  * expressed exactly: matching start positions form consecutive
  * islands (gaps-and-islands over a WORD-bounded window), and within
  * an island every odd-ranked start merges — byte-for-byte the
  * serial algorithm's choice, engine-independent.
  *
  * Scale shape (100 TB): the ONLY corpus-sized pass is the word-type
  * count (one explode + combinable groupBy). Every merge round runs
  * over the word-TYPE table (vocabulary-sized, frequency-weighted) —
  * pair counts are combinable sums, the top pair is a 1-row broadcast
  * joined back on its equi key, islands/rebuild windows partition by
  * the word (structurally bounded by word length). Rounds compose
  * into one plan (DESIGN.md rule 7 — fixed iteration count); a
  * 50k-merge production run would persist per round like
  * Similarity.kmeans.
  */
object BpeTrainer {

  /** Word-type table: (w, freq, syms = characters). Empty tokens are
    * dropped (they have no symbols; and `sequence(1, 0)` would count
    * DOWN — the Spark gotcha — so the guard is structural, not
    * cosmetic).
    */
  def wordTypes(docs: DataFrame, idCol: String, tokens: Column): DataFrame =
    docs.where(col(idCol).isNotNull)
      // explode_outer, NOT explode: the existing null/empty filter below
      // already drops the outer row, and plain explode lets
      // InferFiltersFromGenerate push a size(tokens)>0 filter — with the
      // whole tokenization expression inlined — below the corpus scan's
      // fan-out exchange, re-evaluating it single-task (r10 alias-
      // substitution class)
      .select(explode_outer(tokens).as("w"))
      .where(col("w").isNotNull && col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(col("w"), col("freq"),
        // per-char substr is an O(i) UTF-8 seek — fine at word length;
        // this runs over the vocabulary-sized type table, not the corpus
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))

  /** Adjacent symbol pairs of the current type table:
    * (w, freq, p, s1, s2), p = 1-based pair start. */
  private def pairFrame(cur: DataFrame): DataFrame = {
    val n = size(col("syms"))
    cur.select(col("w"), col("freq"),
        posexplode(zip_with(
          slice(col("syms"), lit(1), greatest(n - 1, lit(0))),
          slice(col("syms"), lit(2), greatest(n - 1, lit(0))),
          (a, b) => struct(a.as("s1"), b.as("s2")))))
      .select(col("w"), col("freq"), (col("pos") + 1).cast("long").as("p"),
        col("col.s1").as("s1"), col("col.s2").as("s2"))
  }

  /** Merge the LITERAL pair (s1, s2) greedily in every word type. */
  private def applyMerge(cur: DataFrame, s1: String, s2: String): DataFrame =
    applyMerges(cur, Seq((s1, s2)))

  /** Merge a SET of symbol-disjoint literal pairs greedily in every
    * word type, in one rebuild job. Soundness of the shared island
    * logic: matches of two different pairs can never sit 1 position
    * apart (positions p and p+1 would force the symbol at p+1 into
    * both pairs — impossible for symbol-disjoint pairs), so every
    * consecutive run in the combined match set is a single pair's run
    * and the odd-rank rule is exactly the per-pair greedy choice.
    */
  private def applyMerges(cur: DataFrame,
      ps: Seq[(String, String)]): DataFrame = {
    val cond = ps.map { case (a, b) => col("s1") === a && col("s2") === b }
      .reduce(_ || _)
    val matches = pairFrame(cur)
      .where(cond)
      .select(col("w"), col("p"))
    // greedy starts: islands of consecutive matches, odd ranks merge
    val wOrd = Window.partitionBy("w").orderBy("p")
    val chosen = matches
      .withColumn("_nf",
        when(col("p") <= lag("p", 1).over(wOrd) + 1, lit(0L)).otherwise(lit(1L)))
      .withColumn("_isl", sum("_nf").over(
        wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_rn",
        row_number().over(Window.partitionBy("w", "_isl").orderBy("p")))
      .where(col("_rn") % 2 === 1)
      .select(col("w"), col("p"))
    val posTable = cur
      .select(col("w"), col("freq"), posexplode(col("syms")))
      .select(col("w"), col("freq"), (col("pos") + 1).cast("long").as("p"),
        col("col").as("sym"))
    val consumed = chosen.select(col("w"), (col("p") + 1).as("p"))
      .withColumn("_c", lit(1))
    val nextSym = posTable
      .select(col("w"), (col("p") - 1).as("p"), col("sym").as("_next"))
    posTable
      .join(chosen.withColumn("_m", lit(1)), Seq("w", "p"), "left")
      .join(consumed, Seq("w", "p"), "left")
      .where(col("_c").isNull)
      .join(nextSym, Seq("w", "p"), "left")
      .select(col("w"), col("freq"), col("p"),
        when(col("_m") === 1, concat(col("sym"), col("_next")))
          .otherwise(col("sym")).as("sym2"))
      .groupBy("w")
      .agg(min("freq").as("freq"),
        transform(array_sort(collect_list(struct(col("p"), col("sym2")))),
          x => x.getField("sym2")).as("syms"))
  }

  /** The learned merge list after `rounds` iterations:
    * (round, s1, s2, pf) — pf is the frequency-weighted pair count
    * that round. Ends early if no pair remains.
    *
    * Execution model: the merge list is DRIVER state, exactly like a
    * production BPE trainer — each round collects its 1-row top pair
    * (the Clustering convergence-check class of driver action: O(1)
    * rows, never corpus data) and rebuilds the persisted type table
    * with the pair as a literal. This keeps every round's plan linear
    * (the type table has 3 consumers per round; composing rounds
    * lazily would nest lineage ~3^r deep — measured 5.0 s → 3.8 s at
    * sf0.1 for 3 rounds, and the gap widens exponentially with
    * rounds). Per-round persists release their
    * predecessor; the final table is dropped before return.
    */
  def learnMerges(docs: DataFrame, idCol: String, tokens: Column,
      rounds: Int): DataFrame = {
    val (merges, types) = learnBpe(docs, idCol, tokens, rounds)
    types.unpersist()
    merges
  }

  /** [[learnMerges]] plus the trained tokenizer's OTHER artifact: the
    * final word-type table `(w, freq, syms)` — each vocabulary word's
    * segmentation after replaying every learned merge. Encoding a
    * corpus with the trained BPE is then a vocabulary-table equi-join
    * ([[encode]]), not a per-row merge replay. The returned type table
    * stays persisted — the caller unpersists when done.
    */
  def learnBpe(docs: DataFrame, idCol: String, tokens: Column,
      rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 64,
      s"rounds $rounds outside [1, 64]: each round is one distributed " +
        "pass + a 1-row collect; beyond toy vocabularies budget " +
        "accordingly")
    val spark = docs.sparkSession
    import spark.implicits._
    var cur = wordTypes(docs, idCol, tokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    cur.count()
    val merges = scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = pairFrame(cur).groupBy("s1", "s2")
        .agg(sum("freq").as("pf"))
        .orderBy(col("pf").desc, col("s1"), col("s2")).limit(1)
        .collect() // 1 row of driver state — the merge table entry
      top.headOption match {
        case None => done = true
        case Some(row) =>
          val (s1, s2, pf) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += ((r.toLong, s1, s2, pf))
          val next = applyMerge(cur, s1, s2)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          next.count()
          cur.unpersist()
          cur = next
          r += 1
      }
    }
    (merges.toSeq.toDF("round", "s1", "s2", "pf"), cur)
  }

  /** [[learnBpe]] with BATCHED merges: up to `maxBatch` merges land in
    * one distributed job, and the learned merge list is PROVABLY the
    * sequential list — never an approximation. Per job it collects the
    * top-`maxBatch` pairs plus two per-symbol maxima, then accepts the
    * longest prefix that sequential training could not deviate from:
    *
    *  - p_i must be symbol-disjoint from every accepted p_j (then
    *    merging p_j neither creates nor destroys p_i occurrences, so
    *    p_i's recorded count is exact), and must not EQUAL a symbol an
    *    accepted merge creates (the concat string can collide with an
    *    existing symbol, whose pair counts would then grow);
    *  - pf(p_i) must exceed every count a pair CREATED by an earlier
    *    accepted merge p_j=(a,b) can reach. New left pairs (x, ab)
    *    arise only from x·a·b patterns, so their count is bounded by
    *    pf(x, a) <= max_x pf(x, a); new right pairs (ab, y) by
    *    max_y pf(b, y); a self-pair (a,a) can additionally create
    *    (aa, aa) bounded by its own pf. Both maxima come from the SAME
    *    pair-count table the top-k came from — two small filtered
    *    aggregations, no extra corpus pass.
    *
    * The batch stops at the first rejection (the accepted list must be
    * a prefix of the sequential order). Worst case every job accepts
    * one pair and the trainer degenerates to [[learnBpe]] plus two
    * cheap aggregations; in the common long-tail regime (many
    * same-magnitude pairs over disjoint symbols) each job lands ~k
    * merges, cutting driver round-trips ~k×. BpeTrainerSpec pins
    * batched == sequential on fixtures, adversarial corpora (shared
    * symbols, created-symbol collisions, self-pair runs), and seeded
    * random corpora.
    */
  def learnBpeBatched(docs: DataFrame, idCol: String, tokens: Column,
      rounds: Int, maxBatch: Int = 16): (DataFrame, DataFrame) = {
    require(rounds >= 1 && rounds <= 4096,
      s"rounds $rounds outside [1, 4096]")
    require(maxBatch >= 1, s"maxBatch must be positive, got $maxBatch")
    val spark = docs.sparkSession
    import spark.implicits._
    val seed = wordTypes(docs, idCol, tokens)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cur = seed
    // No action of its own materializes a table: each batch's first
    // collect (the top-k) computes `cur` into its cache or checkpoint
    // blocks, and only then is the table `cur` was computed from
    // released. `freeCur` frees cur's own storage; `freeInput` frees its
    // input's, and is safe to run once cur is materialized.
    var freeCur: () => Unit = () => seed.unpersist()
    var freeInput: () => Unit = () => ()
    val merges =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, Long)]
    var jobs = 0L
    var done = false
    while (merges.size < rounds && !done) {
      val want = math.min(maxBatch, rounds - merges.size)
      val pairs = pairFrame(cur).groupBy("s1", "s2")
        .agg(sum("freq").as("pf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val top = pairs
        .orderBy(col("pf").desc, col("s1"), col("s2")).limit(want)
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      freeInput()
      freeInput = () => ()
      if (top.isEmpty) {
        pairs.unpersist()
        done = true
      } else {
        val aSyms = top.map(_._1).distinct.toSeq
        val bSyms = top.map(_._2).distinct.toSeq
        val concats = top.map(t => t._1 + t._2).distinct.toSeq
        // ONE collect for the three acceptance inputs (each is a tiny
        // filtered aggregation over the SAME persisted pair table, and
        // each separate action costs a driver job round-trip — profiled
        // ~3 AQE stage-jobs each; folding them into one union frame cuts
        // 2 actions per batch job with byte-identical inputs to
        // acceptBatch, which BpeTrainerSpec pins against sequential):
        //  - "into": max_x pf(x, a) per candidate a
        //  - "from": max_y pf(b, y) per candidate b
        //  - "concat": candidate concat strings that ALREADY exist as
        //    pair-participating symbols — merging such a pair grows the
        //    counts of pre-existing pairs containing that string (the
        //    created instances are indistinguishable — symbols are
        //    strings), so nothing after that accept is provable and the
        //    batch must close there. Symbols living only in 1-symbol
        //    words form no pairs, now or ever, so pair-participation is
        //    the right existence test.
        val intoAgg = pairs.where(col("s2").isin(aSyms: _*))
          .groupBy(col("s2").as("k")).agg(max("pf").as("v"))
          .select(lit("into").as("tag"), col("k"), col("v"))
        val fromAgg = pairs.where(col("s1").isin(bSyms: _*))
          .groupBy(col("s1").as("k")).agg(max("pf").as("v"))
          .select(lit("from").as("tag"), col("k"), col("v"))
        val concatAgg = pairs
          .where(col("s1").isin(concats: _*) || col("s2").isin(concats: _*))
          .select(explode(array(col("s1"), col("s2"))).as("k"))
          .where(col("k").isin(concats: _*))
          .distinct()
          .select(lit("concat").as("tag"), col("k"),
            lit(0L).as("v"))
        val stats = intoAgg.union(fromAgg).union(concatAgg)
          .as[(String, String, Long)].collect()
        val intoMax = stats.collect { case ("into", k, v) => (k, v) }.toMap
        val fromMax = stats.collect { case ("from", k, v) => (k, v) }.toMap
        val existingConcat =
          stats.collect { case ("concat", k, _) => k }.toSet
        pairs.unpersist()
        val accepted = acceptBatch(top, intoMax, fromMax, existingConcat)
        accepted.foreach { case (s1, s2, pf) =>
          merges += (((merges.size + 1).toLong, s1, s2, pf))
        }
        // RDD-level localCheckpoint + createDataFrame, NOT persist and
        // NOT Dataset.localCheckpoint — both explode at the merge
        // counts batching exists for. persist keeps the full logical
        // history (~3 reads of the table per rebuild → ~3^r plan copies:
        // plan strings OOM). Dataset.localCheckpoint truncates lineage
        // but PRESERVES the child plan's estimated stats into the new
        // leaf, so sizeInBytes compounds multiplicatively through the
        // per-round join estimates (measured: digits ×3 per round;
        // by round ~15 the optimizer burns minutes in BigInteger
        // multiplication inside SizeInBytesOnlyStatsPlanVisitor).
        // Rebuilding from the materialized RDD gives a fresh leaf with
        // bounded default stats AND truncated lineage; the trade (a
        // lost executor forfeits checkpoint blocks and the trainer
        // rerun starts over) is the standard one for iterative
        // refinement — a production run pointing at a reliable
        // checkpoint dir would use RDD.checkpoint with the same shape.
        val next = applyMerges(cur, accepted.map(t => (t._1, t._2)).toSeq)
        val nextRdd = next.rdd
        nextRdd.localCheckpoint()
        freeInput = freeCur
        freeCur = () => nextRdd.unpersist(false)
        cur = spark.createDataFrame(nextRdd, next.schema)
        jobs += 1
      }
    }
    lastBatchedJobs.set(jobs)
    // hand the caller a type table whose unpersist() actually frees it:
    // re-cache the final table under Dataset caching, then release the
    // last checkpoint's blocks and, if the loop ended on a merge, its
    // input's (safe in-order: both caches materialize during count(),
    // before the source blocks go)
    val types =
      if (jobs == 0) cur // still the persisted seed
      else {
        val t = cur.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t.count()
        freeCur()
        freeInput()
        t
      }
    (merges.toSeq.toDF("round", "s1", "s2", "pf"), types)
  }

  /** The provably-sequential prefix of a top-k candidate batch — the
    * pure acceptance rule behind [[learnBpeBatched]], factored out so
    * the adversarial cases (created-symbol collisions within and
    * across the batch) are unit-testable without engineering a corpus
    * that reaches them. Candidate p_i = (s1, s2, pf) is accepted iff:
    *
    *  - its symbols are disjoint from every earlier accept's symbols
    *    AND from every string an earlier accept created;
    *  - pf exceeds `bound`, the max count any pair CREATED by an
    *    earlier accept can reach (intoMax/fromMax per-symbol maxima,
    *    plus the self-pair case);
    *  - AND its own concat s1+s2 was not already created by an earlier
    *    accept in THIS batch. Two accepted merges creating the same
    *    string would make that string's created-pair counts the SUM of
    *    both merges' contributions while `bound` tracks only the MAX —
    *    a later candidate could slip between max and sum, deviating
    *    from sequential order. The colliding candidate itself is still
    *    exact (all strings created before it are distinct, so `bound`
    *    is valid, and disjointness keeps its own count untouched):
    *    accept it, then close the batch — the same treatment as a
    *    concat colliding with a PRE-existing symbol (`existingConcat`).
    *
    * The first rejection closes the batch (the result must be a prefix
    * of the sequential order).
    */
  private[ext] def acceptBatch(
      top: Seq[(String, String, Long)],
      intoMax: Map[String, Long],
      fromMax: Map[String, Long],
      existingConcat: Set[String]): Seq[(String, String, Long)] = {
    val accepted =
      scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var used = Set.empty[String]
    var created = Set.empty[String]
    var bound = Long.MinValue
    var stop = false
    for ((s1, s2, pf) <- top if !stop) {
      val ok = accepted.isEmpty ||
        (!used(s1) && !used(s2) && !created(s1) && !created(s2) &&
          pf > bound)
      if (ok) {
        val concat = s1 + s2
        // collision check BEFORE registering this accept's creation:
        // "already created within this batch" means by an EARLIER one
        val withinBatchCollision = created(concat)
        accepted += ((s1, s2, pf))
        used ++= Set(s1, s2)
        created += concat
        val self = if (s1 == s2) pf else Long.MinValue
        bound = Seq(bound, intoMax.getOrElse(s1, 0L),
          fromMax.getOrElse(s2, 0L), self).max
        // created-string collision (with a pre-existing symbol OR an
        // earlier in-batch creation): this accept is still exact, but
        // every later step is perturbed — close the batch
        if (existingConcat(concat) || withinBatchCollision) stop = true
      } else stop = true
    }
    accepted.toSeq
  }

  /** Jobs the most recent [[learnBpeBatched]] call in this thread ran —
    * measurement plumbing for the scale probes (merges/jobs is the
    * batching win), never consulted by the operators.
    */
  val lastBatchedJobs = new java.lang.ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Encode a corpus with a trained segmentation table: per document,
    * the word count, the subword count under the learned merges, the
    * out-of-vocabulary word count, and a fingerprint of the full
    * subword stream in document order (the downstream contract a
    * tokenized-data pipeline hashes and ships).
    *
    * OOV contract (Sennrich §3.2 — the production cross-corpus case):
    * a word absent from the trained type table segments to its
    * CHARACTERS — the zero-merge baseline every BPE implementation
    * falls back to, since character symbols are the alphabet the
    * merges were learned over. Expressed as a LEFT join + coalesce
    * onto the same per-char split [[wordTypes]] seeds with, so an
    * in-vocabulary word is byte-identical to the inner-join form and
    * an encode never silently drops tokens. `n_oov` surfaces the rate
    * (a high rate means the training corpus no longer represents the
    * encode corpus — the drift signal a pipeline alerts on).
    *
    * Scale shape: one token posexplode, ONE equi-join against the
    * vocabulary-sized type table (broadcast below the threshold, hash
    * join above — either way the corpus shuffles at most once on the
    * word key), one doc-bounded aggregation. No per-row merge replay:
    * the segmentation was paid ONCE at training, per word TYPE; the
    * char-split fallback is a per-row expression on the (rare) OOV
    * rows, never a second pass.
    */
  def encode(docs: DataFrame, idCol: String, tokens: Column,
      types: DataFrame): DataFrame = {
    // posexplode_outer: same InferFiltersFromGenerate rationale as
    // wordTypes — the null/empty filter below drops the outer row
    val toks = docs.where(col(idCol).isNotNull)
      .select(col(idCol), posexplode_outer(tokens).as(Seq("pos", "w")))
      .where(col("w").isNotNull && col("w") =!= "")
    val charSplit = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    toks.join(types.select(col("w"), col("syms")), Seq("w"), "left")
      .select(col(idCol), col("pos"),
        col("syms").isNull.as("oov"),
        coalesce(col("syms"), charSplit).as("syms"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("syms"))).cast("long").as("n_subwords"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("n_oov"),
        md5(concat_ws(" ", flatten(
          transform(array_sort(collect_list(struct(col("pos"), col("syms")))),
            x => x.getField("syms"))))).as("enc_fp"))
  }
}
