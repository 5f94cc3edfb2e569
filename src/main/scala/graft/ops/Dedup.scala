package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact deduplication operators.
  *
  * A1 (cc2dataset/main.py:256) is `dropDuplicates("uid")` — Spark plans it
  * as a partial+final HashAggregate keyed on uid (map-side combine, one
  * shuffle). That keeps an ARBITRARY row per key, which is fine for the
  * pipeline but not hash-comparable across engines, so the oracle-facing
  * variant is `firstPerKey` with an explicit deterministic tie-break
  * (SURVEY.md §7.3).
  *
  * Scale note: dedup of N rows is one hash shuffle on the key. At 100 TB
  * the win is the map-side partial aggregate — each task emits one row per
  * distinct key it saw — plus AQE skew splitting for hot keys; no
  * pre-repartition is needed or wanted.
  */
object Dedup {

  /** A1 parity: arbitrary-row-per-key, single-shuffle hash dedup. */
  def byKey(df: DataFrame, keys: Seq[String]): DataFrame =
    df.dropDuplicates(keys)

  /** Full-row distinct (bag → set). */
  def distinctRows(df: DataFrame): DataFrame = df.distinct()

  /** Deterministic dedup: keep the first row per key ordered by
    * `tieBreak`. One shuffle (window partitionBy = hash exchange) + one
    * in-partition sort; no global sort. Fine for BOUNDED key groups;
    * for keys with unbounded duplication (content signatures,
    * boilerplate hashes) use [[firstPerKeyAgg]] — a window has no
    * map-side partial, so a hot key becomes a single-task sort.
    */
  def firstPerKey(df: DataFrame, keys: Seq[Column], tieBreak: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(tieBreak: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Hot-key-safe deterministic first-per-key: same survivor as
    * [[firstPerKey]] (the row minimizing `tieBreak` within each key
    * group — `tieBreak` must be a total order within a key for the
    * result to be deterministic), but via a COMBINABLE
    * `min_by(row, tieBreak)` aggregation instead of a `row_number`
    * window. The difference at scale: a window has no map-side partial,
    * so a degenerate hot key (one uid carrying 10^8 rows — empty-alt
    * hashes, boilerplate signatures) lands its whole group in ONE
    * window partition as a single-task sort. `min_by` reduces each map
    * task's slice of the hot key to one candidate row before the
    * exchange, so the reducer sees O(tasks) rows per key, not O(rows).
    * Use this for keys with unbounded duplication (dedup-by-content
    * signatures); [[firstPerKey]] remains fine for bounded groups.
    */
  def firstPerKeyAgg(df: DataFrame, keys: Seq[Column],
      tieBreak: Seq[Column]): DataFrame = {
    // guard the name this operator writes (mirrors Weighting/UrlAnalysis):
    // an input already carrying __row — or duplicate column names from a
    // prior join — would make the struct build or __row.* expansion
    // silently misresolve
    require(!df.columns.contains("__row"),
      "firstPerKeyAgg: input already has a __row column")
    require(df.columns.distinct.length == df.columns.length,
      s"firstPerKeyAgg: duplicate column names in input: " +
        df.columns.diff(df.columns.distinct).mkString(", "))
    val rowStruct = struct(df.columns.map(col): _*)
    df.groupBy(keys: _*)
      .agg(min_by(rowStruct, struct(tieBreak: _*)).as("__row"))
      .select(col("__row.*"))
  }

  /** Skew-resistant two-phase dedup: phase 1 dedups on (key, salt) —
    * spreading a hot key over `saltBuckets` reducers — phase 2 collapses
    * the ≤saltBuckets survivors per key. Same arbitrary-survivor
    * semantics as A1; use when one uid (or empty-alt hash) dominates a
    * 100 TB run and AQE skew handling isn't available (e.g. pre-3.0
    * clusters or RDD-shaped stages). Salt is derived from stable row
    * content, not rand(), so retried tasks re-produce identical output.
    */
  def saltedByKey(df: DataFrame, keys: Seq[String], saltBuckets: Int,
      saltFrom: Column): DataFrame = {
    val salted = df.withColumn("__salt", pmod(hash(saltFrom), lit(saltBuckets)))
    salted.dropDuplicates(keys :+ "__salt")
      .dropDuplicates(keys)
      .drop("__salt")
  }
}
