package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output shuffling / partitioning (cc2dataset/main.py:258-260).
  *
  * O1 `sort(rand())` is a global sort on a random key: Spark samples the
  * key range, range-partitions, then sorts per partition — two stages, no
  * single-node bottleneck, scales linearly. Seedable for tests (the
  * reference's unseeded rand at main.py:259 is nondeterministic).
  *
  * O2 `repartition(max(256, watCount/500))` round-robins into a bounded
  * file count — same formula as cc2dataset/main.py:260.
  *
  * The product no longer runs O1 and O2 as written (they stay as the
  * reference-shaped operators `q_shuffle` and `q_repartition_count`
  * price). `Cc2Dataset.dedupRepartitionCount` writes the same
  * [[outputPartitions]] files as hash buckets on `uid` from
  * [[writeTasks]] tasks, with a seeded order within each file: one
  * exchange after dedup instead of a range sample, a range shuffle and
  * a round-robin shuffle.
  */
object Shuffle {

  def randomShuffle(df: DataFrame, seed: Long = 42L): DataFrame =
    df.orderBy(rand(seed))

  def outputPartitions(watCount: Int): Int = math.max(256, watCount / 500)

  def repartitionForOutput(df: DataFrame, watCount: Int): DataFrame =
    df.repartition(outputPartitions(watCount))

  /** Write tasks for `files` hash buckets: the largest divisor of `files`
    * that is at most `max(1, bound)`. A divisor keeps every bucket in
    * one task, since `pmod(h, files) mod P == pmod(h, P)` when P divides
    * `files`.
    */
  def writeTasks(files: Int, bound: Int): Int = {
    require(files >= 1, s"files must be >= 1, got $files")
    (math.min(files, math.max(1, bound)) to 1 by -1).find(files % _ == 0).get
  }
}
