package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashes.
  *
  * `h32` = first 8 hex chars of md5, as a bigint in [0, 2^32) — chosen
  * because it is expressible identically in Spark (`conv(substring(md5(x),
  * 1,8),16,10)`) and in the DuckDB oracle (`('0x'||substr(md5(x),1,8))::
  * BIGINT`), so every hash-derived operator (MinHash, SimHash,
  * fingerprints) stays exactly checkable. All builtins → whole-stage
  * codegen keeps these in the generated loop.
  */
object Hashing {

  /** Native fused [[H32]] when a session is at hand to register it
    * (self-registering, idempotent); the expression is bit-identical to
    * the composed builtin form, just allocation-free. Falls back to the
    * composed builtins only when no session is active on this thread
    * (bare Column construction in tests).
    */
  def h32(c: Column): Column =
    org.apache.spark.sql.SparkSession.getActiveSession match {
      case Some(s) =>
        GraftFunctions.register(s)
        call_function(GraftFunctions.H32Name, c)
      case None =>
        conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    }

  /** DuckDB oracle fragment for h32. */
  def h32Sql(expr: String): String = s"('0x'||substr(md5($expr),1,8))::BIGINT"

  /** Universal-hash family for MinHash: h_i(x) = (a_i * h32(x) + b_i) mod p.
    * One md5 per element; family members are cheap linear mixes. a_i is
    * kept below 2^30 so a*h fits comfortably in int64 (max ~4.6e18).
    */
  val MinhashPrime: Long = 4294967311L // smallest prime > 2^32

  def mixConsts(i: Int): (Long, Long) = {
    val a = ((974593L * (2 * i + 1)) % (1L << 30)) | 1L
    val b = (2654435761L * (i + 1)) % (1L << 32)
    (a, b)
  }

  def mix(i: Int, h: Column): Column = {
    val (a, b) = mixConsts(i)
    (h * a + b) % MinhashPrime
  }

  def mixSql(i: Int, expr: String): String = {
    val (a, b) = mixConsts(i)
    s"($expr * $a + $b) % $MinhashPrime"
  }
}
