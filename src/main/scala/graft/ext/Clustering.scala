package graft.ext

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Connected components over a candidate-pair graph — the step that turns
  * near-duplicate PAIRS (lshNearDupPairs, Similarity.nearDupPairs) into
  * duplicate CLUSTERS so a pipeline can keep exactly one survivor per
  * group of mutual near-dups. Without it, pairwise dedup under-deletes:
  * A~B and B~C leaves {A,C} both alive even though they are transitively
  * the same document.
  *
  * Algorithm: contract, then finish on the driver or in a distributed
  * loop (Łącki, Mirrokni, Włodarczyk, "Connected Components at Scale via
  * Local Contractions", arXiv:1807.10727, which extends Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC '14):
  *
  *  1. Local contraction: one pass over the raw pairs runs a union-find
  *     per partition (roots = minimum id) and emits `(node, localRoot)`
  *     for every node the partition saw, roots and self-paired nodes
  *     included. Every pair is unioned inside its partition and every
  *     emitted edge joins two nodes of one component, so components are
  *     preserved; the output is one row per (partition, node), not per
  *     edge — far fewer than |E| where a partition holds many pairs of
  *     one component, about 2|E| where it holds few (hash-partitioned
  *     LSH pairs at battery sizes: 0.97-0.99 × 2|E|, SCALING.md). A
  *     union-find that reaches [[ContractFlushNodes]] nodes is emitted
  *     and restarted, which bounds a task's heap at the cost of
  *     contraction.
  *  2. Driver finish: when the contracted graph holds at most
  *     `driverFinishEdges` rows, one action caches it and brings it to
  *     the driver, which finishes the union-find locally and returns a
  *     driver-built frame. Small graphs pay no per-round job at all.
  *  3. Otherwise the distributed loop runs on the contracted graph:
  *     min-label propagation (the default; rounds = diameter, which
  *     contraction only shortens) or alternating large-star/small-star
  *     (O(log² n) rounds regardless of diameter). For adversarial
  *     long-chain graphs raise `maxIters` or pick the star; the loop
  *     FAILS LOUDLY rather than returning silently-unconverged labels.
  *
  * Scale design (100 TB story):
  *  - Contraction is one narrow pass: no shuffle, at most
  *    [[ContractFlushNodes]] union-find nodes in memory per task. The
  *    loop's edge build (symmetrize, repartition on src) runs on its
  *    output, never on the raw pairs.
  *  - The driver budget bounds what one action may move to the driver
  *    (1M id pairs ≈ 16 MB, far under `spark.driver.maxResultSize`).
  *    On 4 cores the `cc` scale scenario measured the driver finish
  *    ahead of the loop at every size it ran, up to 8M contracted rows
  *    (SCALING.md "Round 23"), so the budget is set by driver memory,
  *    not by a speed crossover.
  *  - Per loop round: one equi-join (edges ⋈ labels, hash shuffle on
  *    node) + one min-aggregation (map-side combinable). Both linear in
  *    the contracted |E|.
  *  - The edge list is persisted once; each round's label frame is
  *    persisted and the previous round's released, so round k+1 plans
  *    against a materialized cache, never a k-deep lazy lineage.
  *  - Convergence check rides the SAME action that materializes the
  *    round (a label sum), so rounds cost no extra pass.
  *  - Only nodes that appear in some pair participate: cluster state is
  *    O(duplicated docs), not O(corpus) — at 100 TB the duplicate graph
  *    is orders of magnitude smaller than the corpus itself.
  */
object Clustering {

  /** Strategy selector for the distributed loop of
    * [[connectedComponents]]; graphs within the driver budget never
    * reach it.
    */
  sealed trait CcStrategy
  object CcStrategy {
    /** Min-label propagation — rounds = graph diameter. The default:
      * near-dup graphs are quasi-cliques (short diameter), where this
      * beats alternating-star on constant factors (two shuffles/round,
      * no edge-set rewrite).
      */
    case object MinLabel extends CcStrategy
    /** Alternating large-star/small-star (Kiveris et al., SoCC '14) —
      * O(log² n) rounds regardless of diameter. The escape hatch for
      * adversarial long-chain graphs where MinLabel's diameter-bounded
      * loop would hit `maxIters` (e.g. a 10k-node path converges here
      * in ~10 rounds vs 10k).
      */
    case object AlternatingStar extends CcStrategy
  }

  /** Default contracted-graph size (rows) up to which
    * [[connectedComponents]] finishes on the driver: 1M (node, root)
    * long pairs, about 16 MB collected. A driver-memory bound: the
    * driver finish beat the loop at every size measured, 8x past it.
    */
  val DriverFinishEdges: Long = 1L << 20

  /** Node count at which a contraction task emits its union-find and
    * starts a fresh one, bounding the task's map at about 20 MB of heap
    * however large the partition.
    */
  val ContractFlushNodes: Int = 1 << 18

  /** The finish a [[connectedComponents]] call took, "driver" or
    * "loop", and the contracted graph's row count (-1 when a zero
    * driver budget skipped the count).
    */
  final case class Finish(path: String, contractedRows: Long)

  /** The [[Finish]] of the most recent [[connectedComponents]] call in
    * this thread — measurement plumbing for the scale probe and the
    * specs, never consulted by the operators.
    */
  val lastFinish = new java.lang.ThreadLocal[Finish] {
    override def initialValue(): Finish = Finish("", -1L)
  }

  /** `pairs(d1, d2)` → `(doc_id, cluster_id)` where cluster_id is the
    * minimum doc id of the connected component. Only ids present in some
    * pair appear (singletons are trivially their own cluster — callers
    * union them in if needed, see [[clusterDedup]]); a pair with a null
    * id names no document and is ignored. Ids must be integral; the
    * output keeps their type (the wider of the two columns').
    *
    * `driverFinishEdges` is the contracted-graph size up to which the
    * driver finishes the job (0 forces the distributed loop, even on
    * empty input); `maxIters` and `strategy` govern that loop, and
    * `onRounds` gets its round count (0 when the driver finished).
    */
  def connectedComponents(pairs: DataFrame, d1: String = "d1",
      d2: String = "d2", maxIters: Int = 25,
      driverFinishEdges: Long = DriverFinishEdges,
      strategy: CcStrategy = CcStrategy.MinLabel,
      onRounds: Int => Unit = _ => ()): DataFrame = {
    val idType = integralIdType(pairs, d1, d2)
    val spark = pairs.sparkSession
    import spark.implicits._
    val contracted = contract(pairs, d1, d2)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // both finishes return frames backed by their own storage (the
    // driver's id arrays, or the loop's materialized caches)
    val labels = try collectWithin(contracted, driverFinishEdges) match {
      case (rows, Some(parts)) =>
        lastFinish.set(Finish("driver", rows))
        onRounds(0)
        val uf = new MinRootUnionFind
        for (p <- parts; i <- p.indices by 2) uf.union(p(i), p(i + 1))
        driverFrame(spark, uf.labels.toArray)
      case (rows, None) =>
        lastFinish.set(Finish("loop", rows))
        val graph = contracted.toDF("node", "root")
        strategy match {
          case CcStrategy.MinLabel => minLabelCC(graph, maxIters, onRounds)
          case CcStrategy.AlternatingStar =>
            alternatingStarCC(graph, maxIters, onRounds)
        }
    } finally contracted.unpersist()
    labels.select(col("doc_id").cast(idType).as("doc_id"),
      col("cluster_id").cast(idType).as("cluster_id"))
  }

  /** The driver finish's `(doc_id, cluster_id)` rows as a frame over
    * flat node and root arrays, one slice per default-parallelism task.
    * Not a local relation: each consumer ships a local relation's rows
    * into its tasks at about 3.4 µs apiece (3.4 s per downstream join
    * at 1M rows, against 0.5 s here), and on the `floors` benchmark's
    * small graphs it was no faster (SCALING.md "Round 23").
    */
  private def driverFrame(spark: SparkSession,
      labels: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val sc = spark.sparkContext
    val slice = labels.length / sc.defaultParallelism + 1
    val slices = labels.grouped(slice)
      .map(g => (g.map(_._1), g.map(_._2))).toSeq
    sc.parallelize(slices, math.max(1, slices.size))
      .flatMap { case (nodes, roots) => nodes.iterator.zip(roots.iterator) }
      .toDF("doc_id", "cluster_id")
  }

  /** The id type both columns widen to; anything but an integral type
    * fails here, by name, instead of deep inside the loop's label sum.
    */
  private def integralIdType(pairs: DataFrame, d1: String,
      d2: String): DataType = {
    val types = pairs.select(col(d1), col(d2)).schema.map(_.dataType)
    types.zip(Seq(d1, d2)).foreach { case (t, c) =>
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"connectedComponents needs integral ids; column $c is " +
          t.catalogString)
    }
    types.maxBy(_.defaultSize)
  }

  /** Union-find over long ids whose every root is its set's minimum id,
    * with path compression.
    */
  private final class MinRootUnionFind {
    private val parent = mutable.LongMap.empty[Long]

    def size: Int = parent.size

    def find(x: Long): Long = {
      var r = parent.getOrElseUpdate(x, x)
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }

    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }

    /** (node, root) for every node seen, each root as (root, root).
      * Lazy: path compression only rewrites values of existing keys,
      * which never moves an entry under the key iterator.
      */
    def labels: Iterator[(Long, Long)] =
      parent.keysIterator.map(n => (n, find(n)))
  }

  /** Local contraction: per partition, union the pairs and emit each
    * node seen with its minimum root. A union-find that reaches
    * `flushNodes` nodes is emitted and replaced by a fresh one; every
    * row it emitted still joins two nodes of one component, so a flush
    * costs contraction, never correctness.
    */
  private[ext] def contract(pairs: DataFrame, d1: String, d2: String,
      flushNodes: Int = ContractFlushNodes): RDD[(Long, Long)] =
    pairs.select(col(d1).cast(LongType), col(d2).cast(LongType))
      .queryExecution.toRdd.mapPartitions { rows =>
        Iterator.continually(rows).takeWhile(_.hasNext).flatMap { rs =>
          val uf = new MinRootUnionFind
          while (rs.hasNext && uf.size < flushNodes) {
            val r = rs.next()
            if (!r.isNullAt(0) && !r.isNullAt(1))
              uf.union(r.getLong(0), r.getLong(1))
          }
          uf.labels
        }
      }

  /** One action that materializes `contracted`'s cache and counts it,
    * returning the count and, when it is within `budget`, the rows as
    * flat per-partition (node, root, node, root, ...) arrays. A
    * partition ships its rows only while it holds at most its even
    * share of the budget, and otherwise just its count, so the action
    * never moves more than `budget` rows; a skewed graph that still fits
    * pays one more collect, from the cache. `take`-style probing would
    * instead scan the partitions in growing waves, one job each. A zero
    * budget runs no action at all (count -1).
    */
  private def collectWithin(contracted: RDD[(Long, Long)],
      budget: Long): (Long, Option[Array[Array[Long]]]) =
    if (budget <= 0) (-1L, None)
    else {
      val sc = contracted.sparkContext
      val share = budget / math.max(1, contracted.getNumPartitions)
      def flat(it: Iterator[(Long, Long)], limit: Long) = {
        val buf = new mutable.ArrayBuilder.ofLong
        var n = 0L
        it.foreach { case (a, b) =>
          n += 1; if (n <= limit) { buf += a; buf += b }
        }
        (n, if (n <= limit) buf.result() else null)
      }
      val parts = sc.runJob(contracted,
        (it: Iterator[(Long, Long)]) => flat(it, share))
      val rows = parts.map(_._1).sum
      if (rows > budget) (rows, None)
      else if (parts.forall(_._2 != null)) (rows, Some(parts.map(_._2)))
      else (rows, Some(sc.runJob(contracted,
        (it: Iterator[(Long, Long)]) => flat(it, Long.MaxValue)._2)))
    }

  /** Plan-truncation helper for iterative algorithms: persist the frame's
    * RDD and re-root a new frame at it. Persist alone caches data but
    * leaves the logical plan intact, so a frame referenced twice per
    * round doubles the plan every round and goes exponential in analysis
    * cost; re-rooting truncates to a leaf.
    */
  private def rooted(df: DataFrame): (DataFrame, RDD[org.apache.spark.sql.Row]) = {
    val rdd = df.rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // persist caches DATA but every task still serializes the full
    // nested RDD lineage; past ~60 rounds that chain overflows the task
    // deserializer's stack (StackOverflowError — surfaced by the
    // `cc` scale scenario's long-path sweep, invisible on ≤6-round
    // near-dup graphs). localCheckpoint truncates the lineage at this RDD once
    // the round's own action materializes it, bounding serialized task
    // depth to one round. Tradeoff (the standard iterative-graph
    // posture): an executor loss can no longer recompute earlier
    // rounds — the job fails and is rerun, instead of silently paying
    // a full-depth recompute.
    rdd.localCheckpoint()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Min-label propagation over the contracted graph `(node, root)`.
    *
    * Each round's label frame is re-rooted at its cached RDD
    * (`createDataFrame(rdd, schema)`): `labels` is referenced twice per
    * round (own-label union, neighbor join), so persist alone — which
    * caches data but leaves the logical plan intact — would double the
    * plan per round and go exponential in analysis cost. Re-rooting
    * truncates the plan to a leaf, the standard shape for iterative
    * Spark algorithms. The RETURNED frame stays backed by its cached RDD
    * for the caller's action(s).
    *
    * Every node starts at the least of its local roots, an id of its own
    * component no larger than its own, so the fixpoint is still the
    * component minimum.
    *
    * Convergence detection: labels only ever DECREASE (each round takes
    * a min over a superset that includes the old label), so the exact
    * label sum strictly decreases until the fixpoint and is equal iff no
    * label moved. Comparing sums costs one map-side-combinable aggregate
    * on the frame the round must materialize anyway — where a
    * changed-row check would add a whole extra join against the previous
    * round's labels. decimal(38,0) keeps the sum exact (id sums overflow
    * a long at corpus scale).
    */
  private def minLabelCC(graph: DataFrame, maxIters: Int,
      onRounds: Int => Unit): DataFrame = {
    // persist PRE-PARTITIONED on the join key: every round equi-joins
    // edges on src, and an unpartitioned cache re-shuffles the full
    // |E|-sized edge set once per round (rounds × the largest byte
    // mover in the loop). InMemoryTableScan preserves its child's
    // outputPartitioning, so the per-round join only exchanges the
    // label side (O(nodes), re-rooted each round) — guide §2.4's
    // "operations keyed the same way share one exchange".
    val star = graph.where(col("node") =!= col("root"))
    val edges = star.select(col("node").as("src"), col("root").as("dst"))
      .union(star.select(col("root").as("src"), col("node").as("dst")))
      .repartition(col("src"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var (labels, labelsRdd) = rooted(
      graph.groupBy("node").agg(min("root").as("label")))

    // coalesce: sum over ZERO rows is null — an empty pair set (a clean
    // corpus) must converge on round 1 with sum 0, not NPE in compareTo
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("label").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("s"))
        .head().getDecimal(0)

    var prevSum = labelSum(labels) // also materializes the seed cache
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      // neighbor labels flow along edges; union with own label, take min
      val fromNeighbors = edges
        .join(labels.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), col("label"))
      val (next, nextRdd) = rooted(
        labels.union(fromNeighbors)
          .groupBy("node").agg(min("label").as("label")))
      // this aggregate is also the action that materializes `next`'s
      // cache; equal sums == fixpoint (labels only ever decrease)
      val nextSum = labelSum(next)
      labelsRdd.unpersist()
      labels = next
      labelsRdd = nextRdd
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      iters += 1
    }
    edges.unpersist()
    if (!converged) {
      labelsRdd.unpersist()
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "graph diameter exceeds maxIters; raise it")
    }
    onRounds(iters)
    labels.select(col("node").as("doc_id"), col("label").as("cluster_id"))
  }

  /** Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14, Algorithm 4) over
    * the contracted graph `(node, root)`.
    * Converges in O(log² n) rounds INDEPENDENT of graph diameter — the
    * opt-in strategy for adversarial long-chain graphs where min-label
    * propagation (rounds = diameter) would hit `maxIters`.
    *
    * Edge set is kept CANONICAL throughout: (src, dst) with src > dst,
    * distinct, no self-loops — which every contracted non-root row
    * already is (its root is a partition-local minimum). Per round:
    *  - large-star: every node u computes m = min(Γ⁺(u)) over the
    *    symmetric neighborhood and re-points each LARGER neighbor
    *    v > u at m (one groupBy + one join on src);
    *  - small-star: every node u re-points itself and its smaller
    *    neighbors at m = min(N≤(u) ∪ {u}) (same shape).
    *  Both emissions satisfy new_src > new_dst by construction (m is a
    *  minimum), so canonical form is preserved without re-sorting.
    *
    * Fixpoint = the edge set is EXACTLY the star forest rooted at
    * component minima; detected by set equality (|E'| = |E| and
    * E' \ E = ∅ — both sides are distinct frames). The equality check
    * is one extra anti-join per round over the EDGE frame — affordable
    * because near-dup edge sets are orders of magnitude smaller than
    * the corpus, and (unlike min-label's monotone label sum) no cheap
    * monotone witness exists for the star fixpoint: an edge rewrite can
    * leave every per-node minimum unchanged, so a label-sum check would
    * declare convergence early.
    *
    * Same persist/re-root lineage discipline and fail-loud `maxIters`
    * as [[minLabelCC]]; same output contract (every node appearing in
    * some pair, labeled with its component minimum).
    */
  private def alternatingStarCC(graph: DataFrame, maxIters: Int,
      onRounds: Int => Unit): DataFrame = {
    // node universe is fixed up front: self-paired nodes carry no
    // canonical edge but must still appear in the output (as their own
    // cluster), exactly as in min-label. Materialize it NOW — the
    // contracted graph is unpersisted before the caller's first action,
    // and a lazy nodes frame would recompute the contraction then.
    val (nodes, nodesRdd) = rooted(graph.select(col("node")).distinct())
    nodesRdd.count()

    def largeStar(e: DataFrame): DataFrame = {
      val s = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = s.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("m"))
      // m = min(Γ⁺(u)); re-point every larger neighbor at it
      s.join(mins, "src")
        .where(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      // canonical e: dst < src, so dst IS the ≤-neighborhood
      val mins = e.groupBy("src").agg(min(col("dst")).as("m"))
      val withM = e.join(mins, "src")
      withM.select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .where(col("src") =!= col("dst"))
        .distinct()
    }

    var (edges, edgesRdd) = rooted(
      graph.where(col("node") =!= col("root"))
        .select(col("node").as("src"), col("root").as("dst")).distinct())
    var edgeCount = edges.count()
    var converged = edgeCount == 0L
    var iters = 0
    while (!converged && iters < maxIters) {
      val (next, nextRdd) = rooted(smallStar(largeStar(edges)))
      val nextCount = next.count() // materializes the round's cache
      converged = nextCount == edgeCount &&
        next.except(edges).isEmpty
      edgesRdd.unpersist()
      edges = next
      edgesRdd = nextRdd
      edgeCount = nextCount
      iters += 1
    }
    if (!converged) {
      edgesRdd.unpersist(); nodesRdd.unpersist()
      throw new IllegalStateException(
        s"alternatingStarCC did not converge in $maxIters rounds — " +
          "raise maxIters (expected O(log² n) rounds)")
    }
    onRounds(iters)
    // star fixpoint: every non-root points at exactly its component
    // minimum; roots (and self-paired singletons) don't appear as src
    nodes
      .join(edges.groupBy("src").agg(min(col("dst")).as("_lab"))
          .withColumnRenamed("src", "node"),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("_lab"), col("node")).as("cluster_id"))
  }

  /** Fuzzy dedup, completed: keep every document that is either outside
    * the duplicate graph or the minimum-id member of its component.
    * `docs` must carry `idCol`; `pairs(d1, d2)` as above.
    */
  def clusterDedup(docs: DataFrame, pairs: DataFrame, idCol: String,
      maxIters: Int = 25): DataFrame = {
    val losers = connectedComponents(pairs, maxIters = maxIters)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster dedup: keep each duplicate cluster's
    * BEST-scoring member (ties to the smallest id) instead of
    * [[clusterDedup]]'s min-label representative — "keep the best
    * duplicate, not the first". Docs outside the duplicate graph are
    * their own singleton cluster and always survive.
    *
    * Survivor selection is a combinable `max_by((score, -id))`
    * aggregation per cluster — hot-cluster-safe (a boilerplate cluster
    * is many rows through map-side partials, never one partition's
    * window), the [[graft.ops.Dedup.firstPerKeyAgg]] standard.
    */
  def clusterBest(docs: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String, maxIters: Int = 25): DataFrame = {
    val labels = connectedComponents(pairs, maxIters = maxIters)
      .withColumnRenamed("doc_id", idCol)
    val labeled = docs
      .join(labels, Seq(idCol), "left")
      .withColumn("_cl", coalesce(col("cluster_id"), col(idCol)))
      .drop("cluster_id")
    val winners = labeled.groupBy("_cl")
      .agg(max_by(col(idCol), struct(col(scoreCol), -col(idCol)))
        .as("_win"))
    labeled.join(winners, "_cl")
      .where(col(idCol) === col("_win"))
      .drop("_cl", "_win")
  }
}
