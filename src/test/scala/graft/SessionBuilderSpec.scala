package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryUtil

/** The single session configuration: what a master string maps to
  * (checked on the conf list, so no cluster starts), and the scoped
  * scratch-checkpoint confs, which no session carries by default.
  */
class SessionBuilderSpec extends AnyFunSuite with SparkTestBase {

  private val ChecksumKey =
    "spark.sql.streaming.checkpoint.fileChecksum.enabled"
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  test("a local-cluster master sets executor memory, class path and cores") {
    val conf = SessionBuilder.localConf("local-cluster[2, 3, 1536]",
      cores = 7, memGb = 8).toMap
    assert(conf("spark.master") == "local-cluster[2, 3, 1536]")
    assert(conf("spark.executor.memory") == "1536m")
    assert(conf("spark.executor.extraClassPath") ==
      sys.props("java.class.path"))
    assert(conf("spark.sql.shuffle.partitions") == "6")
    assert(SessionBuilder.masterCores("local-cluster[2, 3, 1536]")
      .contains(6))
  }

  test("local[N] runs on N cores and bare local on the given cores") {
    val n = SessionBuilder.localConf("local[5]", cores = 7, memGb = 8).toMap
    assert(n("spark.master") == "local[5]")
    assert(n("spark.sql.shuffle.partitions") == "5")
    assert(!n.contains("spark.executor.memory"))
    assert(!n.contains("spark.executor.extraClassPath"))
    val bare = SessionBuilder.localConf("local", cores = 3, memGb = 2).toMap
    assert(bare("spark.master") == "local[3]")
    assert(bare("spark.sql.shuffle.partitions") == "3")
    assert(bare("spark.driver.memory") == "2g")
    assert(SessionBuilder.localConf("local[*]", cores = 1, memGb = 8).toMap
      .apply("spark.sql.shuffle.partitions") ==
      Runtime.getRuntime.availableProcessors().toString)
  }

  test("local(cores) is localConf of local[cores]") {
    val conf = SessionBuilder.localConf("local[4]", cores = 4, memGb = 8)
    conf.foreach { case (k, v) => assert(spark.conf.get(k) == v, k) }
  }

  test("a malformed local master fails before any session is built") {
    val e = intercept[IllegalArgumentException](
      SessionBuilder.forMaster("local-cluster[2,3]"))
    assert(e.getMessage.contains("local-cluster[2,3]"))
  }

  test("a fresh session carries no scratch-checkpoint conf") {
    assert(!spark.sessionState.conf.contains(ManagerKey))
    assert(!spark.sessionState.conf.contains(ChecksumKey))
  }

  test("scratch checkpoint confs are scoped and restored, set or unset") {
    val ckpt = QueryUtil.scratchPath("spec/ckpt")
    spark.conf.set(ChecksumKey, "true")
    try {
      val inside = QueryUtil.withScratchCheckpoints(spark, ckpt) {
        (spark.conf.get(ChecksumKey), spark.conf.get(ManagerKey))
      }
      assert(inside == ("false", "org.apache.spark.sql.execution" +
        ".streaming.checkpointing.FileSystemBasedCheckpointFileManager"))
      assert(spark.conf.get(ChecksumKey) == "true")
      assert(!spark.sessionState.conf.contains(ManagerKey))
    } finally spark.conf.unset(ChecksumKey)
    intercept[IllegalStateException](
      QueryUtil.withScratchCheckpoints(spark, ckpt)(
        throw new IllegalStateException("body failed")))
    assert(!spark.sessionState.conf.contains(ChecksumKey))
    assert(!spark.sessionState.conf.contains(ManagerKey))
  }

  test("a checkpoint outside the scratch root gets no scratch confs") {
    val durable = java.nio.file.Files.createTempDirectory("graft-durable")
    try {
      Seq(durable.resolve("ckpt").toString,
        QueryUtil.scratchPath("../escape/ckpt")).foreach { dir =>
        var ran = false
        intercept[IllegalArgumentException](
          QueryUtil.withScratchCheckpoints(spark, dir) { ran = true })
        assert(!ran, dir)
        assert(!spark.sessionState.conf.contains(ManagerKey))
        assert(!spark.sessionState.conf.contains(ChecksumKey))
      }
    } finally java.nio.file.Files.delete(durable)
  }
}
