package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** Shared helpers: JSON, digests, files, and the floors query set. */
object Workloads {

  val mapper = new ObjectMapper()

  def readJson(f: File): JsonNode = mapper.readTree(f)

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  /** md5 over the sorted uids, one per line — the order-independent
    * fingerprint of a pipeline output (`Dedup.byKey` keeps an arbitrary
    * row per uid, so whole rows are not comparable).
    */
  def uidDigest(uids: Iterable[String]): String =
    md5Hex(uids.toSeq.sorted.mkString("\n"))

  def rmr(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmr))
    f.delete()
  }

  def writeString(f: File, s: String): Unit = {
    val tmp = new File(f.getParentFile, f.getName + ".tmp")
    Files.write(tmp.toPath, s.getBytes(UTF_8))
    Files.move(tmp.toPath, f.toPath, StandardCopyOption.REPLACE_EXISTING)
  }

  def jstr(s: String): String = mapper.writeValueAsString(s)

  /** The floors query set, one query per battery family whose time is
    * fixed per-query cost, with the family it is reported under: the
    * iterative connected-components loop, a stream-stream stateful
    * micro-batch join and the batched BPE trainer. The whole 21-query
    * cluster/stream/bpe/fuzzy set takes 22-27 s per warm pass on 4 cores,
    * more than a run can repeat.
    */
  val floorsQueries: Seq[(String, String)] = Seq(
    "q_neardup_cluster" -> "cluster", "q_interval_join_stream" -> "stream",
    "q_bpe_train" -> "bpe")

  /** `f` over `xs` on a small fixed pool, results in input order. */
  def parallel[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, Harness.cores))
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}
