package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup-style SEMANTIC deduplication (Abbas et al. 2023,
  * "SemDeDup: Data-efficient learning at web-scale through semantic
  * deduplication", arXiv:2303.09540): cluster the embedding space,
  * then prune within-cluster pairs whose cosine similarity exceeds a
  * threshold. Complements the LSH family ([[NearDup.embedCosinePairs]])
  * with the published cluster-then-prune recipe: LSH finds pairs whose
  * SIGNATURES collide anywhere in the corpus; SemDeDup restricts the
  * quadratic work to semantically coherent cells, which is what makes
  * very high thresholds (0.9+) affordable on web-scale corpora.
  *
  * Scale posture (100 TB):
  *   - Cell assignment is BAKED (round 12): the hash-seeded centroid
  *     matrix ([[Ann.seededCentroidMatrix]]) is collected at plan time
  *     and the argmax evaluated as one codegen loop per row
  *     ([[graft.functions.ArgmaxDot]]) — no join, no aggregate, the
  *     corpus never shuffles for assignment at all. (The previous
  *     explode ⋈ broadcast → groupBy → window shape materialized
  *     n·dim·nCells rows — 40G at the sf10 auto sizing, ~16 min where
  *     the baked loop takes seconds.)
  *   - The within-cell pair join shuffles each side once, keyed on the
  *     cell id; pairs are enumerated inside the generated sort-merge
  *     join loop (id_a < id_b and the cosine threshold are join-side
  *     predicates), never materialized as a cross product.
  *   - Quadratic work is bounded per cell: E[cell size] = n / nCells,
  *     so nCells must scale ~n / targetCellSize (the paper uses
  *     ~n/10k-row clusters at web scale; 32 cells is right for the
  *     10^3..10^4-vector gate corpora). Centroids are DATA-DEPENDENT
  *     (hash-sampled seeds, [[Ann.ivfTopKSeeded]]'s rationale), so a
  *     clustered corpus contributes proportionally many seeds and no
  *     single Voronoi cell absorbs the manifold; a residual hot cell is
  *     the skew-join problem and salts the same way ([[Skew]]).
  *
  * Determinism: centroid seeds are `ORDER BY md5(id) LIMIT nCells`
  * (engine-portable, no RNG state, no k-means iterations), and cosines
  * use the fixed-order left-fold dot product, so an independent engine
  * (the DuckDB oracle) reproduces pairs bit-for-bit.
  */
object SemDedup {

  import NearDup.{dot, doubles}

  /** Within-cell near-duplicate pairs: `(id_a, id_b, cell, cos_sim)`
    * with `id_a < id_b` and `cos_sim >= minCos`, where both ids are
    * assigned to the same Voronoi `cell` of the hash-seeded centroids.
    *
    * DEFAULT CELL COUNT IS ADAPTIVE (round 13): `nCells = 0` resolves
    * `ceil(n / targetCellSize)` cells from one narrow plan-time count
    * of the corpus ([[autoCellCount]] — within-cell work is quadratic
    * in cell size, and sf10 measured the old fixed-32 default at
    * 22.0 s vs 4.94 s sized). Pass an explicit count for a fixed index
    * (regression sentry path); `targetCellSize` only applies on the
    * adaptive path.
    *
    * The centroid matrix follows the [[PlanTimeModel]] bake contract,
    * with [[Ann.ivfTopKSeeded]]'s job counts: at `nCells = 0` one
    * collect gives the count and the seeds (1 construction job, against
    * 3 distributed, plus a declined collect's); a fixed `nCells` runs
    * the one seed collect.
    */
  def pairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int = 0,
      minCos: Double = 0.9,
      targetCellSize: Int = 64
  ): DataFrame = {
    // BAKED assignment (round 12): the seed matrix is collected at
    // plan time (≤65536·dim doubles) and argmax evaluated as one
    // codegen loop per row — the join shape (explode dims ⋈ broadcast
    // centroids → groupBy → window) it replaces materializes
    // n·dim·nCells rows before aggregating, measured ~16 min vs seconds
    // at the sf10 auto sizing (200k × 64 × 3125). Output-identical to
    // cellRanks r=1 (OpsSpec asserts it, including the tie and NaN
    // orderings).
    val (mat, mDim) = Ann.seededCentroidMatrix(
      df, vecCol, idCol, nCells, autoCellCount(_, targetCellSize))
    // cell, norm, and the double vector are ALL row-local projections
    // of the same frame, computed in ONE select (round 19) — the cell
    // column previously came back through a corpus-scale equi-join on
    // the id, a full exchange of the vectors that attached a value the
    // row could compute itself.
    val base = df
      .select(col(idCol), doubles(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("c", graft.functions.ArgmaxDot(col("v"), mat, mDim))
      .filter(col("c").isNotNull)
    val a = base.select(
      col("c"), col(idCol).as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = base.select(
      col("c").as("cb"), col(idCol).as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    // equi-join on the cell key; the ordering and threshold predicates
    // evaluate inside the join, the threshold LAST (not a filter():
    // predicate pushdown would prepend it to the condition and run the
    // dot product on (a,b), (b,a) and (a,a) before `id_a < id_b`).
    // Conjunct order is evaluation order in the generated join loop, as
    // in embedCosinePairs; the select recomputes cos_sim for output rows.
    val cos = dot(col("va"), col("vb")) / (col("na") * col("nb"))
    a.join(b, col("c") === col("cb") && col("id_a") < col("id_b") && cos >= minCos)
      .select(col("id_a"), col("id_b"), col("c").cast("int").as("cell"), cos.as("cos_sim"))
  }

  /** The SemDeDup cell-sizing rule as code: within-cell work is
    * quadratic in E[cell size] = n / nCells, so nCells must scale
    * LINEARLY with the corpus — `ceil(n / targetCellSize)` (the paper
    * runs ~10k-row clusters at web scale; 64 is the right target for
    * the gate corpora). Clamped to [1, 65536]: the ceiling keeps the
    * seeded-centroid component frame broadcastable (65536·dim rows).
    */
  def autoCellCount(n: Long, targetCellSize: Int = 64): Int = {
    require(targetCellSize >= 1, s"need targetCellSize >= 1, got $targetCellSize")
    val m = math.max(0L, n)
    // non-overflowing ceildiv: m + (t-1) wraps negative at Long.MaxValue
    val cells = m / targetCellSize + (if (m % targetCellSize == 0) 0 else 1)
    math.max(1L, math.min(65536L, cells)).toInt
  }

  /** Corpus with semantic near-duplicates removed: for every
    * within-cell pair above `minCos`, the larger id is dropped (the
    * smallest id in each similarity neighborhood survives — the
    * deterministic stand-in for the paper's keep-one-per-group).
    * `nCells = 0` (the default) sizes the cells adaptively ([[pairs]]).
    */
  def deduplicate(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int = 0,
      minCos: Double = 0.9
  ): DataFrame =
    NearDup.dropNearDuplicates(df, pairs(df, vecCol, idCol, nCells, minCos), idCol)
}
