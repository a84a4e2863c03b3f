package graft

import org.apache.spark.sql.SparkSession

/** Deployment configuration profiles — the 100-TB guidance that
  * previously lived only in BASELINE.md prose, as code (round 18).
  *
  * The bench VM's defaults (local[32], 32 shuffle partitions, Spark's
  * stock runtime-filter thresholds) are tuned for the sub-second gate
  * and are exactly wrong for a 1000-executor cluster. [[cluster]] is
  * the conf set a real deployment should start from:
  *
  *   - **Runtime bloom-filter joins.** Spark's `InjectRuntimeFilter`
  *     is on by default but NEVER fires on selective-dimension joins
  *     over big tables with size-only statistics: a Filter's size
  *     estimate equals the full scan, so the creation side always
  *     exceeds the stock 10 MB threshold. Measured at sf100 (r17,
  *     BASELINE "runtime bloom-filter join reduction"): with the
  *     thresholds below, q3_shipping's orders side drops from 68.5M
  *     to 13.7M rows ahead of the first SortMergeJoin — an 80% cut of
  *     that stage's shuffle+sort input, for one extra dimension scan
  *     and a ~16 MB broadcast bloom. Correctness-neutral: bloom false
  *     positives die in the exact join (verified both arms).
  *     Alternative: enable CBO + ANALYZE TABLE so Filter estimates
  *     scale, and keep the stock thresholds.
  *
  *     **Size `bloomCreationCap` BETWEEN the pruned join columns of
  *     your largest dimension and your smallest fact table.** The cap
  *     is the knob that decides WHICH side's bloom fires, and an
  *     over-generous one is actively harmful: the executed-plan
  *     SQLMetrics at sf10 (BASELINE.md, "Round 19: the bloom
  *     creation-cap sizing rule, measured") show that a cap admitting
  *     the fact side (lineitem's pruned l_orderkey+l_shipdate estimate
  *     fits under 400 MB at that scale) makes Spark spend the one orders-side
  *     slot on a fact-built `o_orderkey` bloom — 0.04% row cut, +27 s
  *     creation cost — while a 50 MB cap (dimension in, fact out at
  *     sf10) admits the customer-built `o_custkey` bloom instead:
  *     80.07% cut (6.85M → 1.37M rows) and net wall-time win. The
  *     400 MB default is sized for the ~sf100-and-up regime the
  *     profile targets, where fact-side pruned estimates are GBs+.
  *   - **AQE** stays on (runtime re-planning, skew-join splitting,
  *     partition coalescing — measured net-zero at sf0.1, the value
  *     is at scale).
  *   - **Shuffle partitions ≈ 2× total executor cores** so one wave
  *     of reduce tasks covers the cluster with headroom for skew;
  *     AQE coalesces the small ones. The 128 MB default
  *     `maxPartitionBytes` is kept — at 100 TB that is ~800k input
  *     splits, the right granularity for dynamic allocation.
  *
  * Everything here is a RUNTIME SQL conf: [[applyTo]] sets the same
  * map on a live session (no restart), which is also what
  * ProfilesSpec drives the plan assertion through.
  */
object Profiles {

  /** Conf for a large (order 100 TB input, ~1000 executors) batch
    * deployment.
    *
    * @param totalCores total executor cores in the cluster; shuffle
    *                   partitions are sized at 2× (one wave + skew
    *                   headroom, AQE coalesces the rest)
    * @param bloomCreationCap creation-side admission gate for runtime
    *                   bloom filters — size it between the pruned
    *                   join-column estimates of the largest dimension
    *                   (in) and the smallest fact table (out); see the
    *                   class doc for the measured failure mode of an
    *                   over-generous cap
    */
  def cluster(totalCores: Int = 4000, bloomCreationCap: String = "400MB"): Map[String, String] = Map(
    // runtime bloom-filter joins: admit dimension-sized creation
    // sides (size-only stats report the unfiltered pruned scan),
    // require a big application side, and size the filter for
    // ~3M-key dimensions at fpp << 1%
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> bloomCreationCap,
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1GB",
    "spark.sql.optimizer.runtime.bloomFilter.numBits" -> "134217728",
    // AQE: on by default — pinned here because the skew/coalesce
    // behavior is load-bearing at scale, not an optional nicety
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.shuffle.partitions" -> (2L * totalCores).toString
  )

  /** Apply a profile to a live session (all keys are runtime SQL
    * confs). Returns the previous values so a caller (or a test) can
    * restore them.
    */
  def applyTo(spark: SparkSession, profile: Map[String, String]): Map[String, Option[String]] = {
    val prev = profile.keys.map(k => k -> spark.conf.getOption(k)).toMap
    profile.foreach { case (k, v) => spark.conf.set(k, v) }
    prev
  }

  /** Restore the values captured by [[applyTo]]. */
  def restore(spark: SparkSession, prev: Map[String, Option[String]]): Unit =
    prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
}
