package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{EvalOverlapCounts, EvalShingleModel, TextHash}

/** Benchmark decontamination: flag corpus documents that share n-gram
  * shingles with an evaluation/benchmark set, so eval material can be
  * held out of training data (the standard n-gram-overlap
  * decontamination procedure from the GPT-3 / PaLM data cards).
  *
  * Plan shape, chosen for the 100 TB case (round 20):
  *   - The EVAL side is a benchmark suite — thousands of documents,
  *     not billions. Its distinct hashed-shingle set is collected ONCE
  *     at plan time and baked into a codegen expression
  *     ([[graft.functions.EvalOverlapCounts]]): the 100 TB corpus side
  *     is scored in ONE row-local projection — shingle-hash array
  *     (tight md5 loop, [[graft.functions.TextHash.shingleHashes]]),
  *     binary-search membership against the sorted eval hash array,
  *     distinct-hit and distinct-eval-doc counting — with NO explode,
  *     NO join and NO exchange anywhere in the plan. The pre-round-20
  *     formulation exploded every corpus shingle into a broadcast join
  *     and re-aggregated per document (two corpus-scale exchanges plus
  *     an Expand for the two count-distincts, and a third exchange to
  *     join the zero-hit documents back); all of that is now one
  *     whole-stage-codegen pass over the corpus scan.
  *   - The model rides the task binary exactly like the old broadcast
  *     HashedRelation rode the broadcast — same distinct
  *     `(shingle, eval_doc)` pairs, ~12 bytes each in primitive
  *     arrays. For eval sets up to ~10M distinct shingles that is
  *     ≤ ~120 MB per executor, the same memory the join plan needed.
  *
  * The eval model follows the [[PlanTimeModel]] bake contract (the
  * corpus side stays fully lazy). The driver finish collects the eval
  * side's `(h, eval_id)` shingle pairs and de-duplicates them on the
  * driver: 1 construction job. Otherwise a `distinct()` runs in Spark
  * before the collect: 2 jobs, after the declined collect's job when
  * the pairs were over the cap (3 in all), with none for an eval id
  * type the collect declines.
  *
  * The default shingle order is the shared 3-gram family (so the
  * DuckDB oracle reuses the same CTEs as the near-dup gates); pass
  * `shingleN` in [3, 13] to match the production procedure — the
  * GPT-3 data card uses 13-grams, PaLM 8-grams. Any width is the same
  * plan with a wider Horner hash combine (see
  * [[graft.functions.ShingleHashes]]).
  */
object Decontam {

  /** Plan-time eval shingle model: distinct `(h, eval_id)` pairs of
    * the benchmark set, collected and frozen into primitive arrays.
    * Bounded by the eval suite's size by contract.
    */
  private def evalModel(evalDf: DataFrame, textCol: String, idCol: String, shingleN: Int): EvalShingleModel = {
    val pairs = NearDup
      .hashedShingles(evalDf, textCol, idCol, shingleN)
      .select(col("h"), col(idCol).as("eval_id"))
    EvalShingleModel.fromPairs(PlanTimeModel.collect(pairs, key = 1)
      .map(c => c.rows.map(r => (r.getLong(0), c.value(r, 1))).distinct)
      .getOrElse(pairs.distinct().collect().map(r => (r.getLong(0), r.get(1)))))
  }

  /** Packed per-row overlap counts for the corpus frame, or NULL where
    * the id is null (the old left join never matched a null key) or
    * the text is null (the old explode dropped the row).
    */
  private def packedCounts(
      corpus: DataFrame,
      model: EvalShingleModel,
      textCol: String,
      idCol: String,
      shingleN: Int
  ) = {
    val counts = EvalOverlapCounts.counts(
      TextHash.shingleHashes(NearDup.tokens(col(textCol)), shingleN), model)
    when(col(idCol).isNotNull, counts)
  }

  /** Per-corpus-document overlap report against `evalDf`.
    *
    * Output: `idCol, n_hits` (distinct shingles shared with ANY eval
    * doc), `n_eval_docs` (distinct eval docs hit), `contaminated`
    * (`n_hits >= minHits`). Every corpus row appears exactly once —
    * zero-hit documents report `(0, 0, false)`. Rows are scored
    * independently, so `idCol` is assumed unique per row (a document
    * id), as in every pipeline use.
    *
    * The eval shingle model is built at CALL time (see the object
    * doc); the corpus pass itself is a single codegen projection — no
    * shuffle at any scale.
    */
  def overlap(
      corpus: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      idCol: String,
      minHits: Int = 2,
      shingleN: Int = 3
  ): DataFrame = {
    val packed = packedCounts(
      corpus, evalModel(evalDf, textCol, idCol, shingleN), textCol, idCol, shingleN)
    val nHits = coalesce(shiftright(packed, 32), lit(0L))
    corpus.select(
      col(idCol),
      nHits.as("n_hits"),
      coalesce(packed.bitwiseAND(lit(0xffffffffL)), lit(0L)).as("n_eval_docs"),
      (nHits >= minHits).as("contaminated")
    )
  }

  /** Decontaminated corpus: drops documents whose shingle overlap with
    * the eval set reaches `minHits`. Same plan-time model as
    * [[overlap]]; the drop is a row-local filter on the same packed
    * counts — no join.
    */
  def decontaminate(
      corpus: DataFrame,
      evalDf: DataFrame,
      textCol: String,
      idCol: String,
      minHits: Int = 2,
      shingleN: Int = 3
  ): DataFrame = {
    val packed = packedCounts(
      corpus, evalModel(evalDf, textCol, idCol, shingleN), textCol, idCol, shingleN)
    // NULL packed = null id or null text: such rows never reached the
    // old anti-join's bad set, so they are kept for every minHits
    corpus.filter(packed.isNull || shiftright(packed, 32) < minHits)
  }
}
