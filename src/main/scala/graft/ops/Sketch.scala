package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Deterministic cardinality sketches.
  *
  * HyperLogLog answers "how many distinct tokens/urls/ids" without a
  * global distinct, but no two engines agree on an HLL's exact
  * estimate (register layout and bias correction are
  * implementation-defined). The K-MINIMUM-VALUES estimator is the
  * engine-exact alternative: the k-th smallest distinct hash value
  * h(k) over a uniform 2^32 hash space estimates cardinality as
  * `(k-1) · 2^32 / h(k)` — every term is reproducible integer/IEEE
  * arithmetic, so ANY engine computes the identical estimate
  * (relative error ~1/√(k−2), ≈6% at k=256).
  *
  * Scale shape: the only shuffle carries 8-byte DISTINCT HASHES (never
  * token strings); the k-smallest cut is `TakeOrderedAndProject`
  * (per-partition heaps, driver-side merge of k·partitions longs). A
  * 100 TB refinement — per-partition bottom-k BEFORE the distinct
  * exchange — bounds the shuffle at k rows per partition; at that
  * point the estimator's input is identical (bottom-k of a union =
  * bottom-k of per-partition bottom-ks).
  */
object Sketch {

  /** One-row corpus summary:
    * `(k, kth_hash, est_distinct, exact_distinct)` — the KMV estimate
    * of the number of distinct normalized tokens next to the exact
    * count (the exact side is the expensive global distinct the sketch
    * exists to replace; carried here so the estimate's accuracy is
    * visible in the output itself). The estimator needs ≥ k distinct
    * token hashes and a strictly positive k-th hash (k=256 vs any real
    * corpus's ≥10⁴ tokens); a degenerate corpus yields
    * `est_distinct = NULL` rather than a silently biased number or a
    * divide-by-zero.
    */
  def distinctTokensKmv(df: DataFrame, textCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    // ONE corpus pass feeds BOTH outputs (round 20). The round-19
    // attempt hung two consumers off a shared vocabulary distinct, but
    // RemoveRedundantAggregates (correctly) deleted the inner
    // token-distinct under the sketch side's hash-distinct — the two
    // sides diverged below any shareable exchange and the corpus was
    // tokenized twice. This form has no redundant aggregate to remove:
    // the vocabulary distinct runs FIRST (the only corpus-scale
    // exchange, token strings partial-deduped map-side), the md5 runs
    // on DISTINCT tokens only (corpus-to-vocabulary fewer digests than
    // hashing per occurrence — the first shared form of this round
    // paid one md5 per token and shuffled (h, tok) pairs, measured
    // ~20% slower than even the unshared r19 form at sf0.1), and
    // `perHash` counts each hash's vocabulary slice: its KEYS are
    // exactly the distinct hash values (the sketch side's input) and
    // `sum(__ntok)` is the exact distinct-token count (a collision
    // conflates nothing — colliding tokens stay distinct rows of the
    // vocab frame). `count(1)` over the inner distinct cannot be
    // collapsed (removing the distinct would change the counts), so
    // both consumers' physical subtrees stay identical up to the final
    // aggregation and ReuseExchange dedups the corpus-scale exchange:
    // ONE Generate, ONE map-side distinct pass, vocabulary-scale
    // digests.
    val perHash = df
      .select(explode(NearDup.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .distinct()
      .select(NearDup.hash32(col("tok")).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("__ntok"))
    val kth = perHash
      .orderBy(col("h"))
      .limit(k)
      // n_in_k counts the rows the limit actually produced: < k means
      // the corpus has fewer than k distinct hashes and max(h) is NOT
      // the k-th minimum — the estimate would be biased low.
      // max(when(__ntok >= 1, h)) == max(h): every h group holds at
      // least one vocabulary token, so __ntok ≥ 1 — but the guard
      // keeps __ntok ALIVE on this side in a form the optimizer cannot
      // constant-fold away (a bare count(__ntok) normalizes to
      // count(1) on the non-null column and is then pruned). Without
      // it, column pruning drops __ntok below the limit, groupBy(h)
      // keeps only its key and becomes a plain hash-distinct, which
      // makes the token distinct() beneath it redundant — it is
      // removed, the two sides stop sharing the vocabulary exchange,
      // and the corpus is tokenized twice (the round-19 failure mode
      // above). Pinned by the ReusedExchange assertion in OpsSpec.
      .agg(max(when(col("__ntok") >= 1, col("h"))).as("kth_hash"),
        count(lit(1)).as("__n_in_k"))
    // coalesce keeps the column non-nullable like the old count(1)
    // (sum() is nullable; the empty-corpus row must still read 0)
    val exact = perHash.agg(coalesce(sum(col("__ntok")), lit(0L)).as("exact_distinct"))
    kth.crossJoin(exact).select(
      lit(k).as("k"),
      col("kth_hash"),
      when(col("__n_in_k") === k && col("kth_hash") > 0,
        lit((k - 1).toDouble) * lit(4294967296.0) / col("kth_hash").cast("double"))
        .as("est_distinct"),
      col("exact_distinct")
    )
  }

  /** The 100 TB escape hatch documented above, implemented: estimate
    * only (`(k, kth_hash, est_distinct)` — no exact side), with a
    * PER-PARTITION bottom-k cut ahead of the exchange. Each input
    * partition keeps its k smallest distinct hashes in one bounded
    * TreeSet (≤ k longs live at once, single pass — the genuine
    * per-partition imperative case), so the shuffle carries AT MOST
    * `k · partitions` longs no matter how many distinct tokens the
    * corpus has; the plain form's `distinct()` exchange carries every
    * distinct hash. Correctness: any hash among the global k smallest
    * distinct values is, in every partition containing it, among that
    * partition's k smallest distinct values (fewer than k hashes are
    * smaller anywhere) — so bottom-k ∘ distinct ∘ union(per-partition
    * bottom-ks) = bottom-k of the global distinct set, and the one
    * output row is partition-count-independent even though the
    * intermediate union is not. A/B vs the plain form: BASELINE.md
    * round 12.
    */
  def distinctTokensKmvCut(df: DataFrame, textCol: String, k: Int = 256): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val hashes = df
      .select(explode(NearDup.tokens(col(textCol))).as("tok"))
      .filter(length(col("tok")) > 0)
      .select(NearDup.hash32(col("tok")).as("h"))
      .as[Long]
    val cut = hashes.mapPartitions { it =>
      val heap = new java.util.TreeSet[java.lang.Long]()
      while (it.hasNext) {
        val h: java.lang.Long = it.next()
        if (heap.size < k) heap.add(h)
        else if (h < heap.last()) { if (heap.add(h)) heap.pollLast() }
      }
      heap.iterator().asScala.map(_.longValue)
    }.toDF("h")
    val kth = cut.distinct().orderBy(col("h")).limit(k)
      .agg(max(col("h")).as("kth_hash"), count(lit(1)).as("__n_in_k"))
    kth.select(
      lit(k).as("k"),
      col("kth_hash"),
      when(col("__n_in_k") === k && col("kth_hash") > 0,
        lit((k - 1).toDouble) * lit(4294967296.0) / col("kth_hash").cast("double"))
        .as("est_distinct")
    )
  }
}
