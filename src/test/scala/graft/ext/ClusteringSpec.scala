package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ext.Clustering.CcStrategy

class ClusteringSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val Strategies = Seq(CcStrategy.MinLabel, CcStrategy.AlternatingStar)

  /** Driver budgets that select each finish: the default (every graph in
    * this suite fits) and 0 (forces the distributed loop).
    */
  private val Finishes =
    Seq("driver" -> Clustering.DriverFinishEdges, "loop" -> 0L)

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ccOf(pairs: DataFrame, maxIters: Int = 25,
      budget: Long = Clustering.DriverFinishEdges,
      strategy: CcStrategy = CcStrategy.MinLabel): Map[Long, Long] =
    labels(Clustering.connectedComponents(pairs, maxIters = maxIters,
      driverFinishEdges = budget, strategy = strategy))

  private def cc(pairs: Seq[(Long, Long)], maxIters: Int = 25,
      budget: Long = Clustering.DriverFinishEdges,
      strategy: CcStrategy = CcStrategy.MinLabel): Map[Long, Long] =
    ccOf(pairs.toDF("d1", "d2"), maxIters, budget, strategy)

  /** Every (finish, strategy) combination must return `want`, and the
    * finish that ran must be the one the budget selects.
    */
  private def assertAllFinishes(pairs: Seq[(Long, Long)],
      want: Map[Long, Long], maxIters: Int = 25): Unit =
    for ((finish, budget) <- Finishes; s <- Strategies) {
      assert(cc(pairs, maxIters, budget, s) == want, s"$finish/$s")
      assert(Clustering.lastFinish.get().path == finish, s"$finish/$s")
    }

  /** A path's pairs over two partitions, split by the parity of their
    * smaller end: each partition is a matching, so local contraction
    * keeps every edge and the loop faces the path's full diameter.
    */
  private def matchingLayout(path: Seq[(Long, Long)]): DataFrame =
    spark.sparkContext
      .parallelize(path.sortBy(p => math.min(p._1, p._2) % 2), 2)
      .toDF("d1", "d2")

  /** Plain driver-side reference: repeat min over edges to a fixpoint. */
  private def reference(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    var lab = pairs.flatMap(p => Seq(p._1, p._2)).map(n => n -> n).toMap
    var moved = true
    while (moved) {
      val next = pairs.foldLeft(lab) { case (l, (a, b)) =>
        val m = math.min(l(a), l(b)); l + (a -> m) + (b -> m)
      }
      moved = next != lab
      lab = next
    }
    lab
  }

  test("transitive chain collapses to one cluster under min label") {
    // 1-2, 2-3, 3-4: pairwise dedup sees three pairs; the component is one
    assertAllFinishes(Seq((1L, 2L), (2L, 3L), (3L, 4L)),
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate minimum labels") {
    assertAllFinishes(Seq((5L, 9L), (2L, 7L), (7L, 3L)),
      Map(5L -> 5L, 9L -> 5L, 2L -> 2L, 7L -> 2L, 3L -> 2L))
  }

  test("long path converges within diameter rounds and duplicate/reversed edges are harmless") {
    val chain = (1L until 12L).map(i => (i + 1, i)) // reversed order edges
    val dups = chain ++ chain.map { case (a, b) => (b, a) }
    assertAllFinishes(dups, (1L to 12L).map(_ -> 1L).toMap, maxIters = 15)
  }

  test("non-convergence fails loudly instead of returning wrong labels") {
    val chain = (1L to 9L).map(i => (i, i + 1))
    intercept[IllegalStateException] {
      ccOf(matchingLayout(chain), maxIters = 2, budget = 0L)
    }
  }

  test("alternating-star converges on a 10k-node path where min-label would exhaust maxIters") {
    // diameter 9999: min-label needs ~10k rounds; alternating-star is
    // O(log² n) and must finish well inside the default 25
    val n = 10000L
    val chain = matchingLayout((1L until n).map(i => (i, i + 1)))
    intercept[IllegalStateException] {
      // min-label at the SAME budget fails loudly — this is exactly the
      // adversarial shape the opt-in strategy exists for
      ccOf(chain, maxIters = 25, budget = 0L)
    }
    val got = ccOf(chain, budget = 0L, strategy = CcStrategy.AlternatingStar)
    assert(got.size === n)
    assert(got.values.toSet === Set(1L))
  }

  test("alternating-star matches min-label on random multi-component graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(60)(
        (rnd.nextInt(40).toLong + 1, rnd.nextInt(40).toLong + 1))
      val viaStar = cc(pairs, budget = 0L,
        strategy = CcStrategy.AlternatingStar)
      val viaMin = cc(pairs, budget = 0L)
      assert(viaStar === viaMin, s"trial $trial: $pairs")
    }
  }

  test("driver finish equals the forced loop on random graphs spread over 8 partitions") {
    // round-robin over 8 partitions: most components span partitions,
    // so the finish must merge the partition-local roots
    val rnd = new scala.util.Random(23)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(80)(
        (rnd.nextInt(60).toLong + 1, rnd.nextInt(60).toLong + 1))
      val df = pairs.toDF("d1", "d2").repartition(8)
      val want = reference(pairs)
      for ((finish, budget) <- Finishes; s <- Strategies) {
        assert(ccOf(df, budget = budget, strategy = s) === want,
          s"trial $trial $finish/$s: $pairs")
        assert(Clustering.lastFinish.get().path == finish)
      }
    }
  }

  test("a tiny contraction flush size still preserves every component") {
    // flushing every 3 nodes splits each partition's union-find many
    // times over (more rows than the default flush emits); the
    // contracted rows must still span exactly the pairs' components
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val pairs = Seq.fill(80)(
        (rnd.nextInt(60).toLong + 1, rnd.nextInt(60).toLong + 1))
      val df = pairs.toDF("d1", "d2").repartition(8)
      val contracted = Clustering.contract(df, "d1", "d2", flushNodes = 3)
        .collect().toSeq
      assert(reference(contracted) === reference(pairs), s"trial $trial")
      assert(contracted.length > Clustering.contract(df, "d1", "d2").count(),
        s"trial $trial")
    }
  }

  test("alternating-star handles disjoint components, self-pairs and empty input") {
    assertAllFinishes(Seq((5L, 9L), (2L, 7L), (7L, 3L), (11L, 11L)),
      Map(5L -> 5L, 9L -> 5L, 2L -> 2L, 7L -> 2L, 3L -> 2L, 11L -> 11L))
    assertAllFinishes(Seq((4L, 4L)), Map(4L -> 4L))
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    for ((finish, budget) <- Finishes; s <- Strategies) {
      assert(Clustering.connectedComponents(empty,
        driverFinishEdges = budget, strategy = s).count() === 0L)
      assert(Clustering.lastFinish.get().path == finish, s"$finish/$s")
    }
  }

  test("int and long ids keep their type in the output schema") {
    val ints = Seq((1, 2), (2, 3), (7, 7)).toDF("d1", "d2")
    val longs = Seq((1L, 2L), (2L, 3L), (7L, 7L)).toDF("d1", "d2")
    for ((finish, budget) <- Finishes; s <- Strategies) {
      val i = Clustering.connectedComponents(ints,
        driverFinishEdges = budget, strategy = s)
      assert(i.schema.map(_.dataType) == Seq(IntegerType, IntegerType),
        s"$finish/$s")
      assert(i.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ==
        Map(1 -> 1, 2 -> 1, 3 -> 1, 7 -> 7))
      val l = Clustering.connectedComponents(longs,
        driverFinishEdges = budget, strategy = s)
      assert(l.schema.map(_.dataType) == Seq(LongType, LongType),
        s"$finish/$s")
      assert(labels(l) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L))
    }
  }

  test("non-integral ids fail up front with an error naming the type") {
    val strings = intercept[IllegalArgumentException] {
      Clustering.connectedComponents(Seq(("a", "b")).toDF("d1", "d2"))
    }
    assert(strings.getMessage.contains("string"), strings.getMessage)
    val doubles = intercept[IllegalArgumentException] {
      Clustering.connectedComponents(
        Seq((1L, 2.0)).toDF("d1", "d2"), driverFinishEdges = 0L)
    }
    assert(doubles.getMessage.contains("column d2 is double"),
      doubles.getMessage)
  }

  test("clusterDedup keeps non-members and the min member of each component") {
    val docs = (1L to 6L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 4L), (5L, 6L)).toDF("d1", "d2")
    val kept = Clustering.clusterDedup(docs, pairs, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    // component {1,2,4} -> keep 1; {5,6} -> keep 5; 3 untouched
    assert(kept == Set(1L, 3L, 5L))
  }

  test("empty pair set converges cleanly: no clusters, clusterDedup keeps every doc") {
    // a clean corpus produces ZERO near-dup pairs — the label sum must
    // coalesce to 0 (sum over no rows is null) instead of NPE-ing
    val empty = Seq.empty[(Long, Long)].toDF("d1", "d2")
    assert(Clustering.connectedComponents(empty).count() === 0L)
    val docs = (1L to 4L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val kept = Clustering.clusterDedup(docs, empty, "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == (1L to 4L).toSet)
  }

  test("cluster query and oracle stay releasable: no storage pinned after collect") {
    // earlier tests (and other suites on the shared session) may still
    // hold GC-pending cached RDDs, so assert the DELTA of each call: the
    // driver finish releases the contracted graph and pins nothing; the
    // loop unpersists every round frame except the returned one
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("d1", "d2")
    for ((finish, budget) <- Finishes) {
      val before = spark.sparkContext.getPersistentRDDs.size
      Clustering.connectedComponents(pairs, driverFinishEdges = budget)
        .collect()
      val delta = spark.sparkContext.getPersistentRDDs.size - before
      val allowed = if (finish == "driver") 0 else 1
      assert(delta <= allowed,
        s"$finish: expected <=$allowed newly pinned RDDs, got $delta")
    }
  }
}
