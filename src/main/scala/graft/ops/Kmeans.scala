package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Lloyd's k-means over an embedding column, engine-deterministic.
  *
  * The clustering step behind curriculum bucketing, SemDeDup-style
  * pruning, and IVF index builds. Two design points make it
  * reproducible bit-for-bit on any engine at any parallelism — the
  * property `Dataset.ml`-style float k-means cannot offer:
  *
  *  - '''Seeds''' are the `nCells` corpus vectors with the smallest
  *    32-bit md5 id hash (the [[Ann.ivfTopKSeeded]] rule — a
  *    deterministic hash-sample that follows the data distribution).
  *  - '''Means are fixed-point.''' A grouped `sum` of doubles has no
  *    defined accumulation order, so float centroid updates differ
  *    run-to-run at scale. Components are scaled to longs
  *    (`floor(x · 2^24)`) first: integer addition is associative and
  *    commutative, so ANY accumulation order yields the same sum, and
  *    the two IEEE divisions back to a double mean are exact-rounded.
  *    Quantization error ≤ 2^-24 per component per update — noise
  *    three orders below float32 input precision.
  *
  * Assignment is argmin over `cc_c - 2·(x·c_c)` (the `|x|²` term is
  * per-row constant, so it cannot change the argmin) with ties to the
  * smallest cell index; both dot products are fixed-order left folds
  * (codegen [[graft.functions.ArrayMath.dotProduct]] / the oracle's
  * `list_reduce`), so every score double — and hence every
  * assignment — matches across engines.
  *
  * Scale shape (100 TB): centroids are a PLAN-TIME matrix (round 19,
  * the [[graft.ops.Ann.ivfTopKSeeded]] baked pattern): the assignment
  * is one fused argmin loop per row inside whole-stage codegen
  * ([[graft.functions.ArgminScore]]) — NO broadcast pack, no per-row
  * interpreted `zip_with` lambda, no shuffle.
  *
  * The model follows the [[PlanTimeModel]] bake contract:
  *   - DRIVER FINISH: one collect of `(v, hash32(id), id)` feeds the
  *     seeds and all `iters` Lloyd updates, run on the driver. Scoring
  *     calls the same [[graft.functions.ArgminScore.compute]] as the
  *     generated code, the fixed-point sums are exact `Long`s (so they
  *     equal the aggregate's in any order), and the division back to
  *     double means is the same IEEE ops. 1 construction job, whatever
  *     `iters` is. Besides the collect's own declines, it declines, and
  *     the distributed form runs, when a component is non-finite, when
  *     some accumulation order of the `floor(x · 2^24)` sums could leave
  *     `Long` (Spark would wrap, or raise under ANSI), or when
  *     `n·nCells·dim·iters` exceeds [[MaxDriverLloydWork]]. These
  *     checks read the collected vectors, so such a decline comes after
  *     the collect, which construction then pays on top of the
  *     distributed form's jobs: at most `T` of vectors (see the
  *     contract), in its one job or one per take round.
  *   - DISTRIBUTED: the seed collect, then per update one
  *     map-side-combined `(cell, dim)`-keyed aggregate of long partials
  *     whose `nCells·dim` result rows come back to the driver for the
  *     same division. `iters + 1` construction jobs (plus the declined
  *     collect when it ran) and `iters + 1` corpus scans, the textbook
  *     distributed-Lloyd lower bound, with zero exchanges outside the
  *     update aggregates.
  *
  * DRIVER-MEMORY BOUND of the distributed update collect (advice,
  * r19): the `nCells·dim` result comes back as boxed `Row`s — roughly
  * 150–200 B each with the four boxed fields, NOT the 16 B of the raw
  * payload. At the 65536-cell cap with dim 128 that is ~8.4M rows ≈
  * 1.5–2 GB of transient driver heap per update pass (the raw payload
  * is ~130 MB). Size the driver for `nCells·dim·~200 B`, or keep
  * `nCells·dim` under ~10M; beyond that the pre-round-19 distributed
  * join-based update is the right shape again. The default geometries
  * (≤ 65536 cells, dim ≤ a few hundred) stay comfortably inside one
  * driver. The driver finish is bounded by the contract's cap instead.
  */
object Kmeans {

  private val Scale = 16777216.0 // 2^24

  /** Multiply-adds the driver finish may spend on Lloyd updates,
    * `n·nCells·dim·iters`. About the cost of one eager Spark job: warm
    * [[graft.functions.ArgminScore.compute]] ran 1.1–2.2 ns per
    * multiply-add on a 4-core x86 host, so `2^27` is 0.15–0.3 s, beside
    * ~0.16 s per eager Lloyd update job at sf0.1. The 65536-cell cap
    * can therefore never start a single-threaded loop that runs for
    * minutes.
    */
  private[graft] val MaxDriverLloydWork: Long = 1L << 27

  /** Position-indexed centroid values. Components stay boxed so null
    * components / null vectors keep the per-cell NULL-score semantics.
    */
  private type Cents = IndexedSeq[IndexedSeq[java.lang.Double]]

  private def boxedVector(r: Row, i: Int): IndexedSeq[java.lang.Double] =
    if (r.isNullAt(i)) null
    else r.getSeq[Any](i).iterator.map(x => x.asInstanceOf[java.lang.Double]).toIndexedSeq

  private def boxedVector(v: ArrayData): IndexedSeq[java.lang.Double] =
    if (v == null) null else v.toSeq[java.lang.Double](DoubleType)

  /** The seed centroids, collected at plan time: the `nCells`
    * smallest-md5-id corpus vectors in (hash, id) order — the exact rows
    * (and rank order) the pre-round-19 `seedArrays` window assigned.
    * Bounded: `nCells` rows.
    */
  private def collectSeeds(base: DataFrame, idCol: String, nCells: Int): Cents = {
    val h = NearDup.hash32(col(idCol).cast("string"))
    base.select(col("v"), h.as("h"), col(idCol))
      .orderBy(col("h"), col(idCol)).limit(nCells)
      .select(col("v")).collect()
      .iterator.map(boxedVector(_, 0)).toIndexedSeq
  }

  /** The arrays [[graft.functions.ArgminScore]] bakes for a centroid
    * set: row-major components, per-cell offsets (ragged cells
    * allowed), squared norms `cc_c`, and which cells score NULL.
    */
  private final case class Model(
      mat: Array[Double], offsets: Array[Int], ccs: Array[Double], nullCell: Array[Boolean])

  /** The squared norms are the same in-order left folds the former
    * in-plan `transform(cents, ca → dot(ca, ca))` performed, with the
    * same JVM IEEE ops.
    */
  private def modelOf(cents: Cents): Model = {
    val offsets = new Array[Int](cents.length + 1)
    val nullCell = new Array[Boolean](cents.length)
    val ccs = new Array[Double](cents.length)
    var c = 0
    while (c < cents.length) {
      val ca = cents(c)
      nullCell(c) = ca == null || ca.contains(null)
      offsets(c + 1) = offsets(c) + (if (ca == null) 0 else ca.length)
      c += 1
    }
    val mat = new Array[Double](offsets.last)
    c = 0
    while (c < cents.length) {
      val ca = cents(c)
      if (!nullCell(c)) {
        var s = 0.0
        var j = 0
        while (j < ca.length) {
          val w = ca(j).doubleValue()
          mat(offsets(c) + j) = w
          s += w * w
          j += 1
        }
        ccs(c) = s
      }
      c += 1
    }
    Model(mat, offsets, ccs, nullCell)
  }

  /** The Lloyd assignment Column for a position-indexed centroid set:
    * argmin over `cc_c − 2·dot(v, c_c)`, ties to the smallest index —
    * one fused codegen loop per row ([[graft.functions.ArgminScore]]),
    * score/ordering semantics bit-identical to the former
    * `zip_with`+`array_min`+`array_position` spelling.
    */
  private def argminOf(cents: Cents): Column = {
    val m = modelOf(cents)
    graft.functions.ArgminScore(col("v"), m.mat, m.offsets, m.ccs, m.nullCell)
  }

  /** The centroids after one update, given `mean(p, j)`: the new
    * component `j` of cell `p`, or null where the cell kept no non-null
    * `(p, j)` sum. Cells that lose every member keep their previous
    * centroid; cells whose stored vector is null/empty drop out and the
    * survivors re-rank — exactly the old join shape's behavior
    * (`posexplode` of their `carr` produced no rows).
    */
  private def nextCents(cents: Cents, mean: (Int, Int) => java.lang.Double): Cents =
    cents.iterator.zipWithIndex
      .filter { case (ca, _) => ca != null && ca.nonEmpty }
      .map { case (ca, p) =>
        ca.iterator.zipWithIndex.map { case (w, j) =>
          val m = mean(p, j)
          if (m == null) w else m
        }.toIndexedSeq
      }.toIndexedSeq

  /** One distributed Lloyd update: the `(cell, j)`-keyed fixed-point
    * component sums — one map-side-combined aggregate whose bounded
    * (`nCells·dim`-row) result is collected — then the division back to
    * double means on the driver with the IEEE ops the in-plan
    * `coalesce((s/n)/Scale, w)` performed.
    */
  private def updateCents(base: DataFrame, cents: Cents): Cents = {
    val rows = base
      .select(argminOf(cents).as("c"), posexplode(col("v")).as(Seq("j", "x")))
      .groupBy(col("c"), col("j"))
      .agg(
        sum(floor(col("x") * Scale).cast("long")).as("s"),
        count(lit(1)).as("n")
      )
      .collect()
    val sums = rows.iterator.filter(r => !r.isNullAt(0) && !r.isNullAt(2))
      .map(r => (r.getInt(0), r.getInt(1)) -> (r.getLong(2), r.getLong(3))).toMap
    nextCents(cents, (p, j) => sums.get((p, j)) match {
      case Some((s, n)) => java.lang.Double.valueOf((s.toDouble / n.toDouble) / Scale)
      case None => null
    })
  }

  /** [[updateCents]] over collected vectors: the same assignment
    * ([[graft.functions.ArgminScore.compute]], the generated code's
    * entry point), the same per-`(cell, j)` row counts and exact `Long`
    * sums of `floor(x · 2^24)` (the caller guarantees no order of them
    * leaves `Long`), the same division. A vector that gets a cell has
    * no null element and the cell's length, so its sums index the
    * model's own offsets.
    */
  private def driverUpdate(vs: Array[ArrayData], cents: Cents): Cents = {
    val m = modelOf(cents)
    val sums = new Array[Long](m.mat.length)
    val counts = new Array[Long](m.mat.length)
    for (v <- vs if v != null) {
      val c = graft.functions.ArgminScore.compute(v, m.mat, m.offsets, m.ccs, m.nullCell)
      if (c >= 0) {
        var j = 0
        while (j < v.numElements()) {
          sums(m.offsets(c) + j) += math.floor(v.getDouble(j) * Scale).toLong
          counts(m.offsets(c) + j) += 1
          j += 1
        }
      }
    }
    nextCents(cents, (p, j) => {
      val i = m.offsets(p) + j
      if (counts(i) == 0) null
      else java.lang.Double.valueOf((sums(i).toDouble / counts(i).toDouble) / Scale)
    })
  }

  /** The driver finish (see the object doc): the seeds and all `iters`
    * updates from one [[PlanTimeModel.hashedVectors]] collect, or
    * `None` when it declines or the driver could not match Spark.
    */
  private def driverFit(df: DataFrame, vecCol: String, idCol: String, nCells: Int, iters: Int): Option[Cents] = {
    val (collected, vs) = PlanTimeModel.hashedVectors(df, vecCol, idCol) match {
      case Some(cv) => cv
      case None => return None
    }
    // every partial (cell, j) sum has at most n terms of magnitude
    // ≤ max|x|·2^24 + 1, so below 2^62 no accumulation order overflows
    var maxAbs = 0.0
    var components = 0L
    for (v <- vs if v != null) {
      var j = 0
      while (j < v.numElements()) {
        if (!v.isNullAt(j)) {
          val x = v.getDouble(j)
          if (!java.lang.Double.isFinite(x)) return None
          maxAbs = math.max(maxAbs, math.abs(x))
        }
        j += 1
      }
      components += v.numElements()
    }
    if (vs.length * (maxAbs * Scale + 1) >= (1L << 62).toDouble ||
        components.toDouble * nCells * iters > MaxDriverLloydWork) return None
    var cents: Cents =
      PlanTimeModel.hashSeeds(collected, nCells).iterator.map(i => boxedVector(vs(i))).toIndexedSeq
    for (_ <- 0 until iters)
      cents = driverUpdate(vs, cents)
    Some(cents)
  }

  /** Final assignments `(idCol, cell)` after `iters` Lloyd rounds over
    * hash-seeded centroids.
    */
  def assignCells(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      nCells: Int = 16,
      iters: Int = 2
  ): DataFrame = {
    require(nCells >= 1 && iters >= 0, s"need nCells >= 1, iters >= 0, got $nCells/$iters")
    val base = df.select(col(idCol), NearDup.doubles(col(vecCol)).as("v"))
    val cents = driverFit(df, vecCol, idCol, nCells, iters).getOrElse {
      var cs = collectSeeds(base, idCol, nCells)
      for (_ <- 0 until iters)
        cs = updateCents(base, cs)
      cs
    }
    base.select(col(idCol), argminOf(cents).as("cell"))
  }
}
