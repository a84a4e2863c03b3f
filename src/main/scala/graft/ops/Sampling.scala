package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixes.
  *
  * A training pipeline rebalances sources ("keep 20% of web, all of
  * books") with REPRODUCIBLE membership: the same row must make the
  * same keep/drop decision on every run, on any engine, at any
  * parallelism. `df.sample()` cannot promise that (seed × partitioning
  * dependent), so these ops hash a stable row id instead — a narrow
  * codegen projection + filter, no shuffle, trivially pushdown-friendly
  * at 100 TB.
  */
object Sampling {

  /** Uniform [0, 1) hash of a stable id (md5-derived — every engine
    * reproduces it: DuckDB `('0x' || substr(md5(x), 1, 8))::BIGINT`).
    */
  private def hashUnit(id: Column, salt: String): Column =
    conv(substring(md5(concat(id.cast("string"), lit(":" + salt)).cast("binary")), 1, 8), 16, 10)
      .cast("double") / lit(4294967296.0) // 2^32

  /** Deterministic Bernoulli sample: keeps each row iff
    * `hash(id, salt) < rate`. Same rows survive on every engine/run.
    */
  def bernoulli(df: DataFrame, idCol: String, rate: Double, salt: String = "graft"): DataFrame =
    df.filter(keepPredicate(col(idCol), rate, salt))

  /** The keep predicate of [[bernoulli]] as a Column — the SQL-text
    * backend renders THIS expression, so the two paths cannot drift.
    */
  private[graft] def keepPredicate(id: Column, rate: Double, salt: String = "graft"): Column =
    hashUnit(id, salt) < rate

  /** Stratified deterministic sample: per-stratum keep rates (e.g.
    * `lang -> rate` quotas for a training mix); strata not listed keep
    * `defaultRate`. One codegen'd CASE over the stratum column — no
    * shuffle, no per-stratum scans.
    */
  def stratified(
      df: DataFrame,
      idCol: String,
      strataCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0,
      salt: String = "graft"
  ): DataFrame = {
    val rate = rates.foldLeft(lit(defaultRate)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(hashUnit(col(idCol), salt) < rate)
  }

  /** Training-mixture materialization: per-source PERMILLE weights,
    * including UPSAMPLING (weight > 1000 emits multiple epochs of the
    * same row — the "Wikipedia ×3" of LLM mixture recipes).
    *
    * A row in source `s` with weight `w` yields `w / 1000` guaranteed
    * copies plus one more iff `hash(source:id:salt) mod 1000 <
    * w mod 1000` — so each source's EXPECTED multiplicity is exactly
    * `w / 1000.0` while membership stays deterministic on any
    * engine/partitioning (the same md5 permille draw as [[bernoulli]],
    * spelled in integers end-to-end). Output: the input columns plus
    * `epoch` (1-based copy index); weight-0 sources vanish.
    *
    * Scale shape: one codegen'd CASE + md5 per row, then
    * `explode(sequence(1, n))` — a narrow projection with no shuffle;
    * output size is Σ w_s·|s|, the size of the mixture being built.
    * Sources not listed in `permille` weigh `defaultPermille`.
    */
  def mixture(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      permille: Map[String, Int],
      defaultPermille: Int = 1000,
      salt: String = "mix"
  ): DataFrame = {
    require(permille.values.forall(_ >= 0) && defaultPermille >= 0,
      "mixture weights must be non-negative permille values")
    // `epoch` is this op's output column: silently overwriting an
    // input column of that name (withColumn replaces on collision)
    // would corrupt caller data. The temp count column uses the
    // __-prefixed convention (cf. Packing's __shard/__start) so it can
    // never collide with user schema.
    require(!df.columns.contains("epoch"),
      "mixture appends an `epoch` column; rename the input's existing `epoch` column first")
    val wt = permille.foldLeft(lit(defaultPermille)) { case (acc, (src, w)) =>
      when(col(sourceCol) === src, lit(w)).otherwise(acc)
    }
    val h = conv(
      substring(
        md5(concat(col(sourceCol), lit(":"), col(idCol).cast("string"), lit(":" + salt))
          .cast("binary")),
        1, 8), 16, 10).cast("long") % 1000L
    val copies =
      floor(wt.cast("double") / 1000.0).cast("int") +
        when(h < (wt % 1000).cast("long"), lit(1)).otherwise(lit(0))
    df.withColumn("__mix_n_copies", copies)
      .filter(col("__mix_n_copies") >= 1)
      .withColumn("epoch", explode(sequence(lit(1), col("__mix_n_copies"))))
      .drop("__mix_n_copies")
  }

  /** Token-budget selection: keep documents per stratum, in a
    * deterministic hash order, while the stratum's running token total
    * stays within `budgetTokens` — "give me ~2B tokens of each source"
    * without materializing or counting the rest of the corpus twice.
    *
    * Order inside a stratum is `(md5-hash, id)` — an engine-exact
    * shuffle, so the selection is an unbiased sample of the stratum
    * and identical on every run/engine/partitioning. A document whose
    * tokens would cross the boundary is dropped (strict `cum <=
    * budget` semantics); output carries `n_tok`/`cum_tok` for audit.
    *
    * Scale note: a running total is sequential BY DEFINITION, so this
    * shuffles one window per stratum (fine for the usual dozens-of-
    * sources mixture; strata are independent and run in parallel). For
    * a single multi-TB stratum the scale path is threshold selection
    * instead: histogram the hash space (one map-side-combined agg of
    * (hash-bucket, token-sum) rows), pick the bucket boundary h* whose
    * prefix mass ≈ budget, and keep `hash < h*` with a narrow filter —
    * same expected sample, no per-stratum sequential scan.
    */
  def tokenBudget(
      df: DataFrame,
      textCol: String,
      idCol: String,
      strataCol: String,
      budgetTokens: Long,
      salt: String = "budget"
  ): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    val h = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(":" + salt)).cast("binary")), 1, 8),
      16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("h"), col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.select(
        col(idCol), col(strataCol),
        size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"),
        h.as("h"))
      .withColumn("cum_tok", sum(col("n_tok")).over(w))
      .filter(col("cum_tok") <= budgetTokens)
      .select(col(idCol), col(strataCol), col("n_tok"), col("cum_tok"))
  }

  /** Stratum-row floor above which [[tokenBudgetAuto]] switches from
    * the exact running-total form to [[tokenBudgetHistogram]]. The
    * exact form's per-stratum window is ONE sequential task per
    * stratum regardless of cluster size, so its wall-clock grows
    * linearly with the largest stratum while the histogram form stays
    * flat (parallelism independent of stratum size). Measured at
    * sf1 (≈17k rows/stratum) the exact form still wins — the histogram
    * pays two extra small aggregates — while at sf10 (≈170k
    * rows/stratum) the exact window is the 2.2×-vs-oracle bottleneck
    * the histogram removes; 100k splits the measured interval.
    */
  private[graft] val ExactMaxStratumRows: Long = 100000L

  /** Auto-switching token budget (round 13): the exact
    * [[tokenBudget]] semantics while the LARGEST stratum is small
    * enough that its sequential running-total task is cheap, the
    * [[tokenBudgetHistogram]] threshold selection once any stratum
    * crosses [[ExactMaxStratumRows]] — the same plan-time-count
    * pattern as the adaptive LSH/IVF geometry (`autoGeometry`): the
    * largest stratum's row count, taken at PLAN time, decides the
    * shape, and an oracle can recompute the decision in SQL, so the
    * same query text verifies at every scale. The count follows the
    * [[PlanTimeModel]] bake contract: the driver finish collects the
    * strata column and counts it on the driver (1 construction job);
    * otherwise a narrow groupBy-count-max over the strata column runs
    * (3 jobs under AQE), after the declined collect's job when the
    * strata were over the cap (4 in all), with none for a strata type
    * the collect declines. The text column, the expensive read, is
    * untouched either way.
    *
    * Output is schema-stable across the crossover:
    * `(idCol, strataCol, n_tok)` — the exact branch drops its
    * `cum_tok` audit column (a per-row running total is exactly what
    * the scale branch cannot produce). Callers that want `cum_tok`
    * or exact-boundary semantics unconditionally should call
    * [[tokenBudget]] directly.
    */
  def tokenBudgetAuto(
      df: DataFrame,
      textCol: String,
      idCol: String,
      strataCol: String,
      budgetTokens: Long,
      salt: String = "budget",
      bucketBits: Int = 12
  ): DataFrame = {
    val driverCounts = PlanTimeModel.collect(df.select(col(strataCol)), key = 0)
      .map(c => c.rows.groupMapReduce(r => Option(c.value(r, 0)))(_ => 1L)(_ + _))
    val maxRows = driverCounts.fold {
      val r = df.groupBy(col(strataCol)).count().agg(max(col("count"))).collect()(0)
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }(counts => if (counts.isEmpty) 0L else counts.values.max)
    if (maxRows <= ExactMaxStratumRows)
      tokenBudget(df, textCol, idCol, strataCol, budgetTokens, salt)
        .select(col(idCol), col(strataCol), col("n_tok"))
    else
      tokenBudgetHistogram(df, textCol, idCol, strataCol, budgetTokens, salt, bucketBits)
  }

  /** [[tokenBudget]]'s threshold-selection form — the scale path for a
    * SINGLE GIANT STRATUM, where the exact form's per-stratum running
    * total is a sequential scan by definition. Instead of ordering the
    * stratum, the 2^32 hash space is split into `2^bucketBits` buckets
    * and only the tiny per-(stratum, bucket) token histogram is
    * ordered: the selection keeps every document whose hash bucket
    * falls at or below the largest bucket whose cumulative mass fits
    * `budgetTokens` (whole buckets only — strict `<= budget`, so the
    * realized total undershoots by at most one bucket's mass,
    * ≈ stratum_tokens / 2^bucketBits in expectation).
    *
    * Plan shape: one codegen projection (hash, bucket, token count) →
    * ONE map-side-combined aggregate of at most
    * `strata × 2^bucketBits` rows → a window over that tiny frame → a
    * BROADCAST join back + narrow filter. No full-data window, no
    * per-stratum sequential pass; parallelism is independent of
    * stratum size. Deterministic on any engine/partitioning (integer
    * masses, integer thresholds).
    *
    * Output: `(idCol, strataCol, n_tok)` — no `cum_tok`: a per-row
    * running total is exactly the sequential artifact this form
    * avoids. A stratum whose very first bucket overflows the budget
    * selects nothing (matching the exact form's strict semantics).
    */
  def tokenBudgetHistogram(
      df: DataFrame,
      textCol: String,
      idCol: String,
      strataCol: String,
      budgetTokens: Long,
      salt: String = "budget",
      bucketBits: Int = 12
  ): DataFrame = {
    require(budgetTokens >= 0, s"budgetTokens must be >= 0, got $budgetTokens")
    require(bucketBits >= 1 && bucketBits <= 31, s"bucketBits must be in [1, 31], got $bucketBits")
    val h = conv(
      substring(md5(concat(col(idCol).cast("string"), lit(":" + salt)).cast("binary")), 1, 8),
      16, 10).cast("long")
    val base = df.select(
      col(idCol), col(strataCol),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tok"),
      shiftrightunsigned(h, 32 - bucketBits).as("bucket"))
    val hist = base.groupBy(col(strataCol), col("bucket"))
      .agg(sum(col("n_tok")).as("mass"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol)).orderBy(col("bucket"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cut = hist
      .withColumn("cum", sum(col("mass")).over(w))
      .filter(col("cum") <= budgetTokens)
      .groupBy(col(strataCol))
      .agg(max(col("bucket")).as("__max_bucket"))
    base
      .join(broadcast(cut), Seq(strataCol))
      .filter(col("bucket") <= col("__max_bucket"))
      .select(col(idCol), col(strataCol), col("n_tok"))
  }
}
