package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Measured evidence for [[Profiles.cluster]]'s headline claim
  * (round-19 ask #5): execute q3_shipping under the profile on a big
  * local SF and read the injected runtime bloom filter's row cut from
  * the ACTUAL SQLMetrics — not just plan presence (ProfilesSpec) or
  * the r17 DuckDB cross-check of the predicate's selectivity.
  *
  * Two executions, identical confs except the runtime-bloom feature
  * flag: the off arm disables `runtime.bloomFilter.enabled` outright
  * (rather than relying on the stock 10 MB creation-side gate to
  * reject it — at small local SFs the dimension side fits under that
  * gate and stock ALSO admits the bloom, so thresholds alone don't
  * isolate the effect). The orders-side Filter's `numOutputRows`
  * difference is the rows the bloom removed ahead of the first
  * SortMergeJoin's exchange+sort.
  * Both runs shim broadcast off and the application-side scan-size
  * gate to 0 — the two knobs whose values scale with data size (the
  * probe side is GBs locally, TBs in deployment; at 100 TB the
  * data-sized joins are SMJ — the r17 sf100 explain audit).
  *
  * Usage: graft.ProfileProbe <sfDir> [creationSideThreshold]
  * Prints one JSON line with scan/filter row metrics for both arms.
  * The optional threshold overrides the profile's creation-side
  * admission gate for the on-arm — the knob that decides WHICH side's
  * bloom fires (a gate admitting the fact side injects a near-useless
  * `o_orderkey` bloom; one sized to dimension tables' pruned join
  * columns admits the selective `o_custkey` one).
  */
object ProfileProbe {

  /** Post-execution final physical plan, AQE stages unwrapped. */
  private def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
    case q: QueryStageExec        => flatten(q.plan)
    case other                    => other +: other.children.flatMap(flatten)
  }

  /** The Filter directly over the `orders` parquet scan plus that
    * scan, with their numOutputRows metric values and the column(s)
    * the injected bloom probes (empty when no bloom).
    */
  private def ordersSideRows(df: DataFrame): (Long, Long, Seq[String]) = {
    val nodes = flatten(df.queryExecution.executedPlan)
    val scan = nodes.collectFirst {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("orders")) => s
    }.getOrElse(sys.error("no orders scan in the executed plan"))
    val filter = nodes.collectFirst {
      case f: FilterExec if flatten(f).exists(_ eq scan) => f
    }.getOrElse(sys.error("no Filter above the orders scan"))
    val bloomKeys = filter.condition.collect {
      case s: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain =>
        s.valueExpression.references.map(_.name).toSeq.sorted.mkString(",")
    }
    (
      scan.metrics("numOutputRows").value,
      filter.metrics("numOutputRows").value,
      bloomKeys
    )
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = Sessions.local()

    // size shims shared by both arms (see scaladoc); partitions sized
    // for the local box, not the 4000-core default
    val shims = Map(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "32"
    )

    def run(withProfile: Boolean): (Long, Long, Seq[String], Double) = {
      val threshold = args.lift(1).map(t =>
        Map("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> t)
      ).getOrElse(Map.empty)
      val conf =
        if (withProfile) Profiles.cluster() ++ threshold ++ shims
        else shims + ("spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false")
      val prev = Profiles.applyTo(spark, conf)
      try {
        val df = SparkEntry.queries("q3_shipping")(spark, sfDir)
        val t0 = System.nanoTime()
        df.collect()
        val sec = (System.nanoTime() - t0) / 1e9
        val (scan, filt, keys) = ordersSideRows(df)
        (scan, filt, keys, sec)
      } finally Profiles.restore(spark, prev)
    }

    val (scanOff, filtOff, keysOff, secOff) = run(withProfile = false)
    val (scanOn, filtOn, keysOn, secOn) = run(withProfile = true)
    require(keysOff.isEmpty, "bloom filter present with runtime bloom filters disabled")
    require(keysOn.nonEmpty, "cluster profile did not inject the bloom filter")
    require(scanOff == scanOn, s"scan row mismatch: $scanOff vs $scanOn")
    val cutPct = 100.0 * (filtOff - filtOn) / filtOff
    println(
      s"""{"profile_bloom":{"sf_dir":"$sfDir","orders_scan_rows":$scanOn,""" +
        s""""bloom_keys":"${keysOn.mkString(";")}",""" +
        s""""filter_out_nobloom":$filtOff,"filter_out_profile":$filtOn,""" +
        f""""bloom_cut_pct":$cutPct%.2f,"sec_nobloom":$secOff%.2f,"sec_profile":$secOn%.2f}}""" )
    spark.stop()
  }
}
