package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection for embedding columns.
  *
  * Dimensionality reduction is the standard pre-step in front of
  * near-dup / ANN at corpus scale: projecting 64-dim vectors to 16
  * dims cuts index memory and every downstream distance kernel 4×
  * while JL preserves pairwise distances within (1 ± ε) w.h.p. — the
  * sketch that makes brute/IVF rescore affordable at 100 TB.
  *
  * The projection matrix is the SAME deterministic LCG stream the
  * sign-LSH planes use ([[NearDup.planeComponent]]) at a disjoint
  * index offset, evaluated at PLAN TIME into literal arrays: the
  * matrix constant-folds into the generated code, so there is no
  * broadcast, no join, no shuffle — a narrow per-row projection of
  * `outDim` codegen dot products over the scan, embarrassingly
  * parallel at any corpus size. Components are uniform [-0.5, 0.5);
  * the `1/√outDim` scale normalizes expected squared norm (the
  * dense-Gaussian JL convention with a bounded distribution). IEEE
  * `sqrt` is correctly rounded, so any engine reproduces the scale —
  * and hence every output double — bit-for-bit.
  */
object Project {

  /** Flat LCG index space: planes for output dim p start at
    * `PlaneOffset·dim + p·dim` — disjoint from sign-LSH planes
    * (offset 0) and IVF centroids (offset 1000·dim) by construction.
    */
  val PlaneOffset = 2000L

  /** Scala-side mirror of [[NearDup.planeComponent]] — exact integer
    * arithmetic, identical values (asserted in ProjectSpec).
    */
  private[graft] def planeValue(idx: Long): Double =
    ((1103515245L * idx + 12345L) % 2147483648L) / 2147483648.0 - 0.5

  private def planeLit(dim: Int, p: Int): Column =
    array((0 until dim).map(j => lit(planeValue(PlaneOffset * dim + p.toLong * dim + j))): _*)

  /** Projected corpus in array form: `(idCol, proj array<double>)`.
    * Each component is a left-fold double dot product in index order
    * divided by `sqrt(outDim)` — the fixed operation order the DuckDB
    * oracle mirrors with `list_reduce`.
    */
  def randomProjectVectors(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      outDim: Int
  ): DataFrame = {
    require(dim >= 1 && outDim >= 1 && outDim <= dim,
      s"need 1 <= outDim <= dim, got dim=$dim outDim=$outDim")
    // DIVIDE by sqrt, never multiply by a reciprocal: x / s and
    // x * (1/s) round differently, and the oracle spells `/ sqrt(n)`.
    val scale = sqrt(lit(outDim.toDouble))
    val v = NearDup.doubles(col(vecCol))
    df.select(
      col(idCol),
      array((0 until outDim).map(p =>
        graft.functions.ArrayMath.dotProduct(v, planeLit(dim, p)) / scale): _*).as("proj")
    )
  }

  /** Oracle-friendly exploded shape: one `(idCol, p, y)` row per
    * (vector, output dimension) — scalar columns compare exactly
    * across engines.
    */
  def randomProjectCodes(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      outDim: Int
  ): DataFrame =
    randomProjectVectors(df, vecCol, idCol, dim, outDim)
      // `proj` always holds outDim >= 1 elements, so the outer form
      // emits the same rows; it spares the `size(proj) > 0` filter that
      // Spark infers below a plain explode, which would recompute every
      // dot product (and the vector cast) a second time per row
      .select(col(idCol), posexplode_outer(col("proj")).as(Seq("p", "y")))
      .select(col(idCol), col("p").cast("int").as("p"), col("y"))
}
