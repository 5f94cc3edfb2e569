package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-domain crawl scheduling: each admitted URL gets a slot (its
  * rank within its domain by a deterministic order column) and an ETA
  * (`slot × crawl delay`). The naive form is one window partitioned by
  * domain — which funnels a hot domain's every row into a single task
  * (a 10⁷-URL host = one straggler sorting 10⁷ rows). This
  * implementation computes the SAME exact rank two-phase:
  *
  *  1. bucket the order column by range (`floor(order / bucketWidth)`)
  *     and rank within `(domain, bucket)` — the hot domain now splits
  *     across its id-range buckets, so no task sees more than one
  *     bucket's worth of one domain;
  *  2. per-(domain, bucket) counts — a combinable aggregate, rows =
  *     |domains × occupied buckets| (tiny next to the frontier) — get
  *     a cumulative base offset via a window over the AGGREGATE;
  *  3. join the base back on (domain, bucket): `slot = base + local`.
  *
  * Range bucketing (not hash) is what makes the recombination exact:
  * every row in an earlier bucket precedes every row in a later one,
  * so the cumulative count IS the global rank offset.
  */
object Politeness {

  /** `slot` + `eta_sec` over the gated frontier. `order` must be
    * unique per row within a domain (ties would make ranks
    * nondeterministic in ANY formulation — the callers use doc_id).
    * `bucketWidth` trades skew safety against aggregate size: a hot
    * domain's per-task row bound is the densest `bucketWidth`-wide id
    * range it occupies.
    */
  def schedule(gated: DataFrame, domainCol: String, orderCol: String,
      delayCol: String, bucketWidth: Long = 1L << 16,
      persistGated: Boolean = false): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth: $bucketWidth")
    // the two branches below consume `gated` twice (column-pruned
    // differently, so their exchanges never unify — see the bases
    // comment). With an expensive upstream (a robots gate's join +
    // per-row matching at frontier scale) that second pass re-runs the
    // gate; persistGated swaps it for one cache write + one cached
    // read. Probe-measured (`politeness` scale scenario, REAL robots-gate
    // upstream, 1M/4M/16M rows): recompute wins at every decade
    // (persist reads 0.64-0.91x) — the gate's map-side re-run is
    // cheaper than caching the frontier. So recompute is the default;
    // the opt-in exists for upstreams whose per-row cost dwarfs a
    // cache pass (heavy parse/fetch stages), and its cache stays
    // pinned after the action (callers unpersist via
    // spark.catalog.clearCache() or persist the upstream themselves).
    val src =
      if (persistGated)
        gated.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else gated
    val bucket = floor(col(orderCol) / lit(bucketWidth)).cast("long")
    val withLocal = src
      .withColumn("graft_bucket", bucket)
      .withColumn("graft_local", row_number().over(
        Window.partitionBy(col(domainCol), col("graft_bucket"))
          .orderBy(col(orderCol))).cast("long") - 1L)
    // per-(domain, bucket) counts straight off the frontier: the
    // partial aggregation combines MAP-SIDE, so this branch shuffles
    // only |domains × occupied buckets| rows (the corpus shuffles
    // exactly once, for the bucketed window above). The cumulative
    // window then runs over the aggregate only, and the join back
    // broadcasts it. The frontier SUBTREE evaluates twice (column-
    // pruned differently per branch, so the exchanges don't unify) —
    // `persistGated` trades that re-run for a cache pass (see above);
    // by default the scan + per-row gate re-run is the price of not
    // shuffling the corpus a second time.
    val bases = src
      .groupBy(col(domainCol), bucket.as("graft_bucket"))
      .agg(count(lit(1)).as("graft_n"))
      .withColumn("graft_base",
        coalesce(sum(col("graft_n")).over(
          Window.partitionBy(col(domainCol)).orderBy(col("graft_bucket"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(domainCol), col("graft_bucket"), col("graft_base"))
    // no broadcast hint: AQE broadcasts the aggregate when it is small
    // (the common case), but at frontier scale (10⁸ domains) the bases
    // frame itself outgrows a broadcast — the SMJ fallback reuses the
    // window's (domain, bucket) partitioning on the big side, so only
    // the aggregate shuffles
    withLocal
      .join(bases, Seq(domainCol, "graft_bucket"))
      .withColumn("slot", col("graft_base") + col("graft_local"))
      .withColumn("eta_sec",
        col("slot") * coalesce(col(delayCol), lit(1.0)))
      .drop("graft_bucket", "graft_local", "graft_base")
  }

  /** [[schedule]] composed with a per-domain admission quota: ranks
    * are assigned AFTER dropping rows past `maxPerDomain` (by the same
    * order), so the schedule never plans more fetches from one host
    * than the curation policy admits. The quota itself reuses the
    * two-phase rank — both passes stay skew-safe.
    */
  def scheduleCapped(gated: DataFrame, domainCol: String,
      orderCol: String, delayCol: String, maxPerDomain: Long,
      bucketWidth: Long = 1L << 16,
      persistGated: Boolean = false): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain: $maxPerDomain")
    val ranked = schedule(gated, domainCol, orderCol, delayCol,
      bucketWidth, persistGated)
    ranked.where(col("slot") < maxPerDomain)
  }

  /** The naive single-window formulation — kept for the scale probe's
    * A/B and for small frontiers where one exchange beats three.
    */
  def scheduleNaive(gated: DataFrame, domainCol: String,
      orderCol: String, delayCol: String): DataFrame = {
    val slot: Column = (row_number().over(
      Window.partitionBy(domainCol).orderBy(orderCol)) - 1).cast("long")
    gated
      .withColumn("slot", slot)
      .withColumn("eta_sec",
        col("slot") * coalesce(col(delayCol), lit(1.0)))
  }
}
