package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: token statistics,
  * quality scoring, marker-based language scoring, and document
  * fingerprints. All pure Column expressions (no UDFs) — they run inside
  * whole-stage codegen and scale embarrassingly (per-row, no shuffle).
  *
  * Number discipline: counts are computed as longs first; any ratio is a
  * double derived from those longs, so the DuckDB oracle produces
  * bit-identical values.
  */
object TextAnalysis {

  /** Small function-word list for stopword ratios. */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  def tokens(text: Column): Column = split(text, " ")

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Character bigrams of `text` (order preserved, duplicates kept;
    * empty for null or single-character text). Built from one
    * char-split + two slices zipped, NOT per-position `substr(i, 2)`:
    * char-indexed substr on UTF-8 seeks from the string start, so a
    * position loop is O(len²) per document (measured 5.5 s → linear at
    * sf0.1). Slice lengths come from `length(text)`, not `size(cs)`:
    * `split(text, "")` drops its trailing empty element only on
    * Spark >= 3.4 (SPARK-40194), and sizing the slices off the string
    * itself keeps the bigram set identical under either split
    * semantics instead of silently emitting a spurious 1-char tail
    * "bigram" on older engines.
    */
  def charBigrams(text: Column): Column = {
    val cs = split(text, "")
    when(text.isNotNull && length(text) >= 2,
      zip_with(slice(cs, lit(1), length(text) - 1),
        slice(cs, lit(2), length(text) - 1),
        (a, b) => concat(a, b)))
      .otherwise(array().cast("array<string>"))
  }

  def tokenCount(text: Column): Column = size(tokens(text)).cast("long")

  def distinctTokenCount(text: Column): Column =
    size(distinctTokens(text)).cast("long")

  /** Count of [a-z] characters — a proxy for alphabetic density. */
  def alphaChars(text: Column): Column =
    length(regexp_replace(text, "[^a-z]", "")).cast("long")

  def stopwordHits(text: Column): Column =
    size(filter(tokens(text), t => t.isin(Stopwords: _*))).cast("long")

  /** Word-boundary marker hits, the scoring core of n-gram language ID. */
  def markerHits(text: Column, markers: Seq[String]): Column =
    regexp_count(text, lit("\\b(" + markers.mkString("|") + ")\\b")).cast("long")

  /** Composite quality score in [0,1]: lexical diversity, alphabetic
    * density, stopword presence, and a length prior. Doubles derived only
    * from exact longs.
    */
  def qualityScore(nTokens: Column, nDistinct: Column, stopHits: Column,
      alpha: Column, nChars: Column): Column =
    (nDistinct.cast("double") / nTokens) * 0.35 +
      (alpha.cast("double") / nChars) * 0.35 +
      (stopHits.cast("double") / nTokens) * 0.1 +
      (least(nTokens, lit(100L)).cast("double") / 100.0) * 0.2

  /** Order-insensitive bag fingerprint: md5 of the sorted distinct token
    * set. Two documents with the same vocabulary collide — a cheap
    * canonical-form dedup key.
    */
  def bagFingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(distinctTokens(text))))

  /** BPE-ish token count: runs of letters, runs of digits, runs of other
    * non-space — the shape of byte-pair pre-tokenization regexes.
    */
  def bpeTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+|[0-9]+|[^a-z0-9 ]+")).cast("long")

  /** Gopher-style repetition signal: fraction of bigrams that are
    * duplicates of an earlier bigram (1 − distinct/total). High values
    * flag boilerplate and degenerate generated text. 0.0 for single-token
    * docs (no bigrams).
    */
  def dupBigramRatio(text: Column): Column =
    dupBigramRatioFromTokens(tokens(text))

  /** Token-array form: pass a STAGED (aliased-projection) tokens column
    * on hot paths — a non-attribute array expression fed here would be
    * re-inlined into both consumers.
    */
  def dupBigramRatioFromTokens(tks: Column): Column = {
    val nBi = (size(tks) - 1).cast("long")
    val nDist = size(NearDup.bigramShingles(tks)).cast("long")
    when(nBi > 0,
      lit(1.0) - nDist.cast("double") / nBi.cast("double"))
      .otherwise(lit(0.0))
  }

  /** Repetition signal: the most frequent token's share of all tokens.
    * Per-row O(n log n) sort + run-length fold — no shuffle, stays in
    * codegen.
    */
  def topTokenShare(text: Column): Column =
    topTokenShareFromTokens(tokens(text))

  /** Sorted run-length fold: sort the tokens, then one linear fold
    * tracking (previous token, current run length, best run length) —
    * the longest run in the sorted array IS the max token frequency.
    * O(n log n) per row, vs the naive count-per-distinct-token
    * O(distinct × total) that goes ~10¹² comparisons on one adversarial
    * 1M-token document. The "" sentinel with run = 0 is safe: a genuine
    * "" token (consecutive spaces) extends the zero run to the correct
    * count of 1.
    */
  def topTokenShareFromTokens(tks: Column): Column =
    when(size(tks) > 0,
      maxTokenRunFromTokens(tks).cast("double") / size(tks).cast("double"))
      .otherwise(lit(0.0))

  /** The max token frequency itself (a LONG — exact, so thresholds can be
    * cross-multiplied instead of compared as floats): longest run in the
    * sorted token array. 0 for an empty array.
    */
  def maxTokenRunFromTokens(tks: Column): Column =
    aggregate(array_sort(tks),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, t) => {
        val run = when(t === acc.getField("prev"),
          acc.getField("run") + lit(1L)).otherwise(lit(1L))
        struct(t.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      }).getField("best")

  /** Canonical text normalization — the cheap pass every corpus takes
    * before hashing/dedup so cosmetic variants collapse: lowercase,
    * control characters (tabs/newlines/DEL) to spaces, space runs
    * collapsed, ends trimmed. Pure codegen'd string expressions; the
    * character class is hex-escaped so Java regex and RE2 (the DuckDB
    * oracle) read it identically.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[\\x00-\\x1F\\x7F]", " "),
      " +", " "))

  /** Unicode NFC (native codegen [[graft.functions.NfcNormalize]] —
    * Spark has no builtin; mirrors DuckDB's `nfc_normalize` exactly).
    * Composed/decomposed variants of the same visible text must hash
    * together before any fingerprint-based dedup. UDF fallback only
    * for bare Column construction with no active session (tests).
    */
  def nfc(text: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        graft.functions.GraftFunctions.register(s)
        call_function(graft.functions.GraftFunctions.NfcName, text)
      case None =>
        udf((x: String) =>
          if (x == null) null
          else java.text.Normalizer.normalize(x,
            java.text.Normalizer.Form.NFC)).apply(text)
    }

  /** Total characters across tokens — exact long, the numerator of mean
    * word length (kept as a sum so thresholds cross-multiply). */
  def tokenCharsFromTokens(tks: Column): Column =
    aggregate(transform(tks, t => length(t).cast("long")), lit(0L),
      (acc, x) => acc + x)

  /** Gopher-style rule gate (Rae et al. 2021, arXiv:2112.11446 — the
    * rule-based document filter, as opposed to [[qualityScore]]'s soft
    * score): per-rule boolean verdicts plus the conjunction. EVERY
    * threshold compares exact integers (cross-multiplied longs), never
    * floats, so the verdicts are bit-identical across engines and
    * partitionings. Pass a STAGED tokens column. Pure per-row
    * expressions — no shuffle, scales embarrassingly.
    *
    * Rules: token count within [minTokens, maxTokens]; mean token length
    * within [3, 10] chars; duplicate-bigram fraction ≤ 30%; top token ≤
    * 20% of all tokens; at least one stopword.
    */
  def gopherGate(tks: Column, minTokens: Long = 10L,
      maxTokens: Long = 1000L): Column = {
    val n = size(tks).cast("long")
    val chars = tokenCharsFromTokens(tks)
    val nBi = (size(tks) - 1).cast("long")
    val nDistBi = size(NearDup.bigramShingles(tks)).cast("long")
    val maxRun = maxTokenRunFromTokens(tks)
    val stops = size(filter(tks, t => t.isin(Stopwords: _*))).cast("long")
    val rLen = n.between(minTokens, maxTokens)
    // 3 <= chars/n <= 10  ⇔  3n <= chars AND chars <= 10n
    val rWordLen = n > 0 && chars >= n * 3 && chars <= n * 10
    // (nBi - nDist)/nBi <= 0.3  ⇔  10*(nBi - nDist) <= 3*nBi
    val rDupBigram = nBi <= 0 || (nBi - nDistBi) * 10 <= nBi * 3
    // maxRun/n <= 0.2  ⇔  5*maxRun <= n
    val rTopShare = n > 0 && maxRun * 5 <= n
    val rStopword = stops >= 1
    struct(
      rLen.as("r_len"), rWordLen.as("r_word_len"),
      rDupBigram.as("r_dup_bigram"), rTopShare.as("r_top_share"),
      rStopword.as("r_stopword"),
      (rLen && rWordLen && rDupBigram && rTopShare && rStopword).as("kept"))
  }

  /** Overlapping token-window chunk starts: 1, 1+stride, … while ≤ n.
    * Pass a STAGED tokens column. Empty/null token arrays yield no
    * chunks. (sequence() counts DOWN when start > stop — guard it.)
    */
  def chunkStarts(tks: Column, stride: Int): Column = {
    require(stride >= 1, "stride must be >= 1")
    val n = size(tks)
    when(n >= 1, sequence(lit(1), n, lit(stride)))
      .otherwise(array().cast("array<int>"))
  }

  /** One row per (doc, chunk): the window of `width` tokens starting at
    * each [[chunkStarts]] offset (the final chunks may be shorter) —
    * how corpora become fixed-context training examples. Pure per-row
    * explode; no shuffle.
    */
  def chunkText(tks: Column, start: Column, width: Int): Column =
    concat_ws(" ", slice(tks, start, lit(width)))

  /** Content-defined chunk segmentation (the CDC idea from dedup
    * storage systems, applied to token streams): a token whose h32 is
    * ≡ 0 mod 2^maskBits CLOSES a chunk, so boundaries depend only on
    * local content — an insertion early in a document shifts every
    * fixed-stride chunk but leaves all CDC chunks after the next
    * boundary identical, which is what makes chunk-level dedup
    * ([[Paragraphs.dedupParagraphs]] over these segments) robust to
    * edits. Expected chunk length = 2^maskBits tokens. Pure per-row
    * HOFs — no shuffle; empty/null token arrays yield no chunks.
    *
    * PERF: the h32 inside the lambda runs interpreted (HOFs don't
    * codegen) and the expression can be re-evaluated around a
    * Generate — for corpus-scale chunk dedup use the relational shape
    * instead (explode tokens → codegen'd boundary flag → doc-bounded
    * running count → group to chunks, as q_cdc_dedup does, feeding
    * [[Paragraphs.dedupParagraphRows]]); it measured ~10x faster at
    * sf0.1. This array form is for per-row use on already-small data.
    */
  def cdcSegments(tks: Column, maskBits: Int): Column = {
    require(maskBits >= 1 && maskBits <= 20, "maskBits in [1,20]")
    val m = 1 << maskBits
    val n = size(tks)
    val bpos = filter(sequence(lit(1), n), i =>
      pmod(graft.functions.Hashing.h32(element_at(tks, i)), lit(m)) === 0)
    val starts = concat(array(lit(1)), transform(bpos, b => b + 1))
    val ends = concat(bpos, array(n))
    // zip (start, end) ranges; a trailing boundary at n leaves an empty
    // (n+1, n) range — dropped by the s <= e guard
    when(n >= 1,
      filter(zip_with(starts, ends, (s, e) =>
        when(s <= e, concat_ws(" ", slice(tks, s, e - s + 1)))),
        c => c.isNotNull))
      .otherwise(array().cast("array<string>"))
  }

  /** Order-SENSITIVE rolling (Karp–Rabin) fingerprint over the token
    * stream: fold h32(token) through acc*B + h mod M. Complements the
    * order-insensitive bagFingerprint — reordered documents get
    * different rolling fingerprints but the same bag fingerprint.
    * Seeded with the first element (list_reduce semantics, mirrored in
    * the DuckDB oracle).
    */
  val RollB = 1000003L
  val RollM = 2147483647L // 2^31 - 1

  def rollingFingerprint(text: Column): Column =
    rollingFromHashes(transform(tokens(text), w => graft.functions.Hashing.h32(w)))

  /** Single-pass fold seeded by a −1 sentinel (h32 and the mix are both
    * non-negative, so −1 unambiguously means "no element seen yet"). One
    * reference to the hash array instead of three (slice/seed/size): a
    * multiply-referenced non-attribute array expression would otherwise
    * be duplicated into each consumer when projections collapse.
    */
  def rollingFromHashes(hs: Column): Column =
    aggregate(hs, lit(-1L),
      (acc, h) => when(acc < 0, h).otherwise((acc * RollB + h) % RollM))
}
