package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale posture (100 TB):
  *   - The query set is small by construction (user-supplied probes);
  *     it is ALWAYS `broadcast()` so the corpus side never shuffles —
  *     brute-force is one narrow map stage over the corpus scan.
  *   - Top-k is `row_number() <= k` over (query, score): Spark ≥3.5
  *     plans this as WindowGroupLimit, which prunes to k rows per query
  *     map-side BEFORE the shuffle, so the exchange carries
  *     O(queries × k) rows, not O(corpus × queries).
  *   - The LSH variant buckets the corpus by sign-signature bands
  *     (equi-join on compact band keys instead of scoring every row);
  *     rescoring touches only candidates. Same shape ClickHouse/Lucene
  *     IVF indexes produce, expressed as a declarative Catalyst plan.
  *
  * Determinism: scores use a left-fold dot product (fixed summation
  * order) and ties are broken by corpus id, so results hash-match an
  * independent engine (DuckDB oracle) bit-for-bit.
  */
object Ann {

  import NearDup.{dot, doubles, signSigs}

  /** Corpus rows as (id, v, nrm) with double vectors. */
  private def prep(df: DataFrame, vecCol: String, idCol: String): DataFrame =
    df.select(col(idCol), doubles(col(vecCol)).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))

  /** Exact brute-force cosine top-k: every corpus row is scored against
    * every (broadcast) query; `row_number` keeps the k best per query.
    * Self-matches (same id) are excluded.
    * Output: `query_id, <idCol>, cos_sim, rank`.
    */
  def bruteTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int = 5
  ): DataFrame = {
    val base = prep(corpus, vecCol, idCol)
    val q = prep(queries, vecCol, idCol)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    // the =!= join plans as a broadcast-nested-loop on purpose: scoring
    // every corpus row against every broadcast query IS brute force
    // (the corpus side never shuffles). lshTopK/ivfTopK are the
    // at-scale paths when the query set itself is large.
    val scored = base
      .join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(
        col("query_id"),
        col(idCol),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim")
      )
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** IVF-style ANN: the corpus is partitioned into `nCells` Voronoi
    * cells of deterministic pseudo-random centroids (LCG components —
    * any engine reproduces them); queries probe their `nProbe` nearest
    * cells and rescore exactly within them.
    *
    * Plan shape: BOTH cell assignments are fused codegen loops per
    * row against the plan-time centroid matrix (corpus argmax:
    * [[graft.functions.ArgmaxDot]], round 12; query top-nProbe:
    * [[graft.functions.TopCellsDot]], round 19) — no centroid frame,
    * no broadcast build, no probe aggregate or rank window; top-k is
    * `row_number() <= k` (WindowGroupLimit). The corpus shuffles only
    * for the probe join — scale-safe.
    * Output: `query_id, <idCol>, cos_sim, rank` (≤ k rows per query).
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int = 5,
      // Size the index to the corpus: probe cost per query is
      // ~nProbe·n/nCells rescans, so nCells should grow ~√n (the
      // sf1 sweep measured a 9× slope at 10× data with the old fixed
      // 8 cells — 2.5k vectors per cell). DEFAULT IS ADAPTIVE
      // (round 13): nCells = 0 resolves √n cells from the corpus
      // count at plan time ([[autoCells]]); pass an explicit count
      // for a fixed index (regression sentry path).
      nCells: Int = 0,
      nProbe: Int = 2
  ): DataFrame = {
    val cells = resolveCells(corpus, idCol, nCells)
    ivfWithCentroids(corpus, queries, vecCol, idCol, k, nProbe,
      lcgCentroidMatrix(dim, cells), dim)
  }

  /** Data-independent centroids as a flat row-major `nCells × dim`
    * matrix: the LCG stream offset past the LSH planes (exact integer
    * arithmetic; [[Project.planeValue]] is the shared scalar mirror,
    * asserted against the Column form in ProjectSpec). Feeds the BAKED
    * corpus-assignment path.
    */
  private[ops] def lcgCentroidMatrix(dim: Int, nCells: Int): Array[Double] = {
    val mat = new Array[Double](nCells * dim)
    var i = 0
    while (i < mat.length) { mat(i) = Project.planeValue(1000L * dim + i); i += 1 }
    mat
  }

  /** [[ivfTopK]] with DATA-DEPENDENT centroids: the `nCells` corpus
    * vectors with the smallest md5 id hash seed the Voronoi cells.
    *
    * The LCG centroids above are data-independent — right for a
    * zero-pass oracle-reproducible default, wrong as the only option at
    * 100 TB: on a CLUSTERED corpus most vectors fall into the few cells
    * whose random centroid happens to point near the data manifold, and
    * one hot cell absorbs the scan (BASELINE.md records the measured
    * imbalance). A deterministic hash-sample follows the data
    * distribution (a dense region contributes proportionally many seed
    * candidates) while staying engine-reproducible: the seed set is
    * `ORDER BY md5(id) LIMIT nCells` in any engine — no RNG state, no
    * k-means iterations, no extra full pass (the seed scan is
    * TakeOrderedAndProject: O(nCells) heap per partition, merged on the
    * driver side of the exchange).
    * Output: `query_id, <idCol>, cos_sim, rank` (≤ k rows per query).
    *
    * The centroid matrix follows the [[PlanTimeModel]] bake contract.
    * At `nCells = 0` the driver finish takes the corpus count and the
    * `(h, id)`-ordered seeds from one collect: 1 construction job,
    * against 3 for the distributed count and seed collect, which run
    * after the declined collect's job when the vectors were over the
    * cap and Catalyst's estimate had not already declined it. A fixed
    * `nCells` runs the one seed collect.
    */
  def ivfTopKSeeded(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int = 5,
      // DEFAULT IS ADAPTIVE (round 13): nCells = 0 → √n cells from
      // the corpus count at plan time ([[autoCells]]); pass an
      // explicit count for a fixed index (regression sentry path).
      nCells: Int = 0,
      nProbe: Int = 2
  ): DataFrame = {
    val (mat, mDim) = seededCentroidMatrix(corpus, vecCol, idCol, nCells, autoCells)
    ivfWithCentroids(corpus, queries, vecCol, idCol, k, nProbe, mat, mDim)
  }

  /** `nCells`, or for 0 (the adaptive default) √n cells from one
    * narrow plan-time count of the corpus ([[autoCells]]).
    */
  private def resolveCells(corpus: DataFrame, idCol: String, nCells: Int): Int = {
    require(nCells >= 0, s"nCells must be >= 0 (0 = adaptive), got $nCells")
    if (nCells != 0) nCells else autoCells(corpus.select(col(idCol)).count())
  }

  /** The IVF index-sizing rule as code: `nCells ~ √n`, the shape that
    * balances assignment cost (n·nCells dot products) against probe
    * cost (~nProbe·n/nCells rescans per query) — the lever ivfTopK's
    * doc quantifies (fixed 8 cells went 9× at 10× data, sf1 round 10).
    * Clamped to [4, 65536]: the ceiling keeps the centroid component
    * frame broadcastable (65536·dim rows ≈ 4M — still a few tens of
    * MB), the floor keeps probe-2 meaningful on tiny corpora.
    */
  def autoCells(n: Long): Int =
    // clamp in Long BEFORE narrowing: round(sqrt(Long.MaxValue)) ≈ 3·10⁹
    // overflows Int, and a negative wrap would clamp to the floor
    math.max(4L, math.min(65536L, math.round(math.sqrt(math.max(0L, n).toDouble)))).toInt

  /** Hash-sampled centroid components `(c, j, w)` (see
    * [[ivfTopKSeeded]]).
    */
  private[ops] def seededCentroids(
      corpus: DataFrame, vecCol: String, idCol: String, nCells: Int): DataFrame = {
    val base = prep(corpus, vecCol, idCol)
    // 32-bit md5 hash of the id TEXT (portable: DuckDB spells it
    // ('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 8))::BIGINT)
    val h = NearDup.hash32(col(idCol).cast("string"))
    val seeds = base.select(col(idCol), col("v"), h.as("h"))
      .orderBy(col("h"), col(idCol)).limit(nCells)
    // cell index = rank within the (tiny) seed set; the window runs
    // over nCells rows, not the corpus
    val seedC = seeds.withColumn(
      "c", (row_number().over(Window.orderBy(col("h"), col(idCol))) - 1).cast("int"))
    seedC
      .select(col("c"), posexplode(col("v")).as(Seq("j", "x")))
      .select(col("c"), col("j"), col("x").as("w"))
  }

  /** The hash-seeded centroid set as a PLAN-TIME flat matrix
    * (row-major, cell-index order — the same `ORDER BY h, id` rank
    * [[seededCentroids]] assigns), for the baked-assignment path
    * ([[graft.functions.ArgmaxDot]]) that replaces the
    * n·dim·nCells-row join shape wherever only the argmax cell is
    * needed. `nCells = 0` sizes the index as `cellsFor(n)` from the
    * corpus count (see [[ivfTopKSeeded]] for the jobs). Bounded:
    * 65536 · dim doubles at the cap. Returns the matrix and the vector
    * dimension.
    */
  private[ops] def seededCentroidMatrix(
      corpus: DataFrame, vecCol: String, idCol: String, nCells: Int,
      cellsFor: Long => Int = autoCells): (Array[Double], Int) = {
    require(nCells >= 0, s"nCells must be >= 0 (0 = adaptive), got $nCells")
    val h = NearDup.hash32(col(idCol).cast("string"))
    val hashed = prep(corpus, vecCol, idCol).select(col("v"), h.as("h"), col(idCol))
    val driverSeeds =
      if (nCells != 0) None
      else PlanTimeModel.hashedVectors(corpus, vecCol, idCol).map { case (c, vs) =>
        PlanTimeModel.hashSeeds(c, cellsFor(vs.length))
          .map(i => if (vs(i) == null) null else vs(i).toSeq[Any](DoubleType): scala.collection.Seq[Any])
      }
    matrixOf(driverSeeds.getOrElse {
      val cells = if (nCells != 0) nCells else cellsFor(corpus.select(col(idCol)).count())
      // one TakeOrderedAndProject: O(nCells) heap per partition
      hashed.orderBy(col("h"), col(idCol)).limit(cells).select(col("v")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Any](0): scala.collection.Seq[Any])
    })
  }

  /** Seed vectors (null for a null vector) as a flat matrix. */
  private def matrixOf(seeds: Array[scala.collection.Seq[Any]]): (Array[Double], Int) = {
    if (seeds.isEmpty) return (Array.empty[Double], 1)
    def vector(c: Int): scala.collection.Seq[Any] = {
      require(seeds(c) != null, s"seed vector $c is null — clean the corpus vectors before indexing")
      seeds(c)
    }
    val dim = vector(0).length
    require(dim >= 1, s"seed vectors must be non-empty, got dim=$dim")
    val mat = new Array[Double](seeds.length * dim)
    var c = 0
    while (c < seeds.length) {
      // reject null components BEFORE the Double view silently unboxes
      // them to 0.0 — the query-side broadcast centroid frame keeps
      // them as NULL weights (x * NULL term skipped), so a silent 0.0
      // here could assign corpus and query rows to DIFFERENT cells for
      // the same vector (advice, round 12)
      val raw = vector(c)
      require(!raw.contains(null),
        s"seed vector $c has null components — clean the corpus vectors before indexing")
      require(raw.length == dim, s"ragged seed vectors: ${raw.length} vs $dim")
      var j = 0
      while (j < dim) { mat(c * dim + j) = raw(j).asInstanceOf[Double]; j += 1 }
      c += 1
    }
    (mat, dim)
  }

  /** Shared IVF machinery: assign cells by max centroid dot product,
    * probe `nProbe` cells per query, rescore exactly. `centroids` is a
    * small `(c, j, w)` component frame — always broadcast.
    *
    * SECONDARY-PROBE PRUNING — TRIED AND REVERTED (round 11, measured):
    * the classical IVF refinement (skip probe #2 when the spherical
    * triangle-inequality bound `cos(angle(q,ĉ₂) − radius(c₂))` cannot
    * beat the primary cell's k-th best) was implemented output-
    * identically (cos-domain bound, no acos, 1e-9 slack; both gate
    * entries stayed green) but measured 4.95 s vs 1.64 s unpruned at
    * sf1 — 3× SLOWER. In a declarative one-shot plan the k-th-best
    * threshold needs a second consumer of the primary rescore subtree,
    * and Spark recomputes it (AQE breaks exchange reuse across the
    * threshold's broadcast), so the prune pays ~2× the primary rescore
    * to skip ~0.5× of the secondary — a structural loss whenever
    * per-probe rescan cost is comparable to a stage traversal. The
    * refinement belongs in engines with imperative per-query control
    * flow (FAISS), not here; the scale lever for this operator remains
    * nCells ~ √n (see ivfTopK).
    */
  private def ivfWithCentroids(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      k: Int,
      nProbe: Int,
      centroidMatrix: Array[Double],
      matDim: Int
  ): DataFrame = {
    // CORPUS assignment is BAKED (round 12, same move as SemDedup):
    // one codegen argmax per row against the plan-time matrix, instead
    // of the explode ⋈ broadcast → groupBy-sum → window shape that
    // materializes n·dim·nCells rows — and whose grouped double sums
    // lose left-fold exactness once the aggregate SPILLS (measured at
    // the sf10 SemDeDup auto sizing: 99/12.19M rows drifted from the
    // oracle). QUERY probes are baked too (round 19,
    // [[graft.functions.TopCellsDot]]): the top-nProbe cell list is
    // one fused codegen loop per query row — the centroid component
    // frame, its broadcast build, the probe aggregate, and the rank
    // window all disappear (the small query side pays them per batch;
    // TopCellsDot mirrors the window form's ordering exactly,
    // including the all-null-SUM and NaN ranks).
    val corpusCells = corpus
      .select(col(idCol), doubles(col(vecCol)).as("v0"))
      .select(col(idCol), graft.functions.ArgmaxDot(col("v0"), centroidMatrix, matDim).as("c"))
      .filter(col("c").isNotNull)
    val queryCells = queries
      .select(col(idCol).as("query_id"), doubles(col(vecCol)).as("v0"))
      .select(col("query_id"),
        explode(graft.functions.TopCellsDot(col("v0"), centroidMatrix, matDim, nProbe)).as("c"))
    val cand = corpusCells
      .join(broadcast(queryCells), Seq("c"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol))

    val base = prep(corpus, vecCol, idCol)
    val q = prep(queries, vecCol, idCol)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col(idCol))
    cand
      .join(base, Seq(idCol))
      .join(broadcast(q), Seq("query_id"))
      .select(
        col("query_id"),
        col(idCol),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim")
      )
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Per-row centroid ranks `(outId, c, d, r)`: dot product with every
    * (broadcast) centroid, ranked descending per row. `r = 1` is the
    * assigned cell. Shared by the IVF paths.
    */
  private[ops] def cellRanks(
      df: DataFrame, vecCol: String, idCol: String, outId: String,
      centroids: DataFrame): DataFrame = {
    val vx = prep(df, vecCol, idCol)
      .select(col(idCol).as(outId), posexplode(col("v")).as(Seq("j", "x")))
    val w = Window.partitionBy(outId).orderBy(col("d").desc, col("c"))
    vx.join(broadcast(centroids), Seq("j"))
      .groupBy(col(outId), col("c"))
      .agg(sum(col("x") * col("w")).as("d"))
      .withColumn("r", row_number().over(w))
  }

  /** Sign-LSH ANN: corpus and queries get a `planes`-bit hyperplane
    * signature split into bands; candidates share at least one band
    * (equi-join on band keys — no full scoring pass), then exact cosine
    * rescoring keeps the k best candidates per query.
    *
    * Band-space sizing (the same rule as `NearDup.embedCosinePairs`
    * and `ivfTopK`): each band's expected bucket holds
    * corpus / 2^bandBits ids, so candidates per query grow linearly in
    * the corpus UNLESS bandBits grows with it — grow the bucket space
    * ~√n (the 16-plane/4-bit default shipped through round 8 had 16
    * buckets per band, exactly the geometry embedCosinePairs outgrew
    * at sf1: 46.5M candidate pairs). Recall comes from ADDING bands,
    * not widening buckets: P(per-band miss) = 1 − (1 − θ/π)^bandBits,
    * so round 9's 32/8 (4 bands) silently traded recall for the wider
    * buckets — a fixed-geometry caller wants e.g. 56/8 = SEVEN
    * 256-bucket bands (56 is the largest multiple of 8 under the
    * 62-bit signature cap), which keeps candidate linearity AND more
    * band draws than the old 16/4's four. A 10^9-vector index wants
    * 16-bit bands — then buy recall back with more planes, never fewer
    * bands. Recall vs bruteTopK is asserted in OpsSpec so a future
    * geometry change can't silently trade it again.
    *
    * DEFAULT GEOMETRY IS ADAPTIVE (round 13): leaving `planes` and
    * `bandBits` unset sizes the bands from the actual corpus count at
    * plan time (`NearDup.autoGeometry` at `targetOccupancy`, 7-band
    * cap — the top-k op keeps the recall-over-bands stance of the
    * 56/8 sentry rather than the pair op's 4; sf10 measured fixed 56/8
    * at 6.52 s vs sized 3.22 s). Pass BOTH for a fixed geometry
    * (regression sentry path); exactly one is an error.
    * `targetOccupancy` applies only on the adaptive path.
    * Output: `query_id, <idCol>, cos_sim, rank` (≤ k rows per query).
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      k: Int = 5,
      planes: Int = 0,
      bandBits: Int = 0,
      targetOccupancy: Int = 64
  ): DataFrame = {
    require((planes == 0) == (bandBits == 0),
      s"pass BOTH planes and bandBits for a fixed geometry or NEITHER for the " +
        s"adaptive default, got planes=$planes, bandBits=$bandBits")
    if (planes == 0) {
      val (p, b) = NearDup.autoGeometry(corpus.select(col(idCol)).count(), targetOccupancy, maxBands = 7)
      return lshTopK(corpus, queries, vecCol, idCol, dim, k, p, b)
    }
    // leftover signature bits that don't fill a whole band are dropped
    // (nBands floors), never folded into a degenerate always-equal key;
    // width bounds (≤ 62 bits, Long band arithmetic) are enforced in
    // NearDup.signBandKeys
    require(bandBits >= 1 && bandBits <= 62, s"bandBits must be in [1, 62], got $bandBits")
    val base = signSigs(corpus, vecCol, idCol, dim, planes)
    val q = signSigs(queries, vecCol, idCol, dim, planes)
      .select(col(idCol).as("query_id"), col("v").as("qv"), col("nrm").as("qn"), col("sig"))
    val nBands = planes / bandBits
    def bandKeys(sig: org.apache.spark.sql.Column) =
      NearDup.signBandKeys(sig, nBands, bandBits)
    // band rows carry ONLY (id, band): the candidate shuffle moves two
    // longs per row, not the vectors — those join back for rescoring
    val baseBands = base.select(col(idCol), posexplode(bandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    val qBands = q.select(col("query_id"), posexplode(bandKeys(col("sig"))).as(Seq("band_idx", "band_key")))
    val cand = baseBands
      .join(
        broadcast(qBands),
        baseBands("band_idx") === qBands("band_idx") &&
          baseBands("band_key") === qBands("band_key") &&
          col(idCol) =!= col("query_id")
      )
      .select(col("query_id"), col(idCol))
      // dropDuplicates, NOT the first-collision conjunct the pair ops
      // use: the candidate set here is bounded by queries × bucket size
      // (queries are small by construction), so this distinct is a tiny
      // shuffle — while the conjunct would widen every CORPUS band row
      // by the signature. The asymmetry is deliberate: pair ops have
      // corpus-sized candidate sets (distinct is the bottleneck there),
      // top-k has a queries-sized one (narrow band rows win).
      .dropDuplicates("query_id", idCol)
    val w = Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col(idCol))
    cand
      .join(base.select(col(idCol), col("v"), col("nrm")), Seq(idCol))
      .join(broadcast(q.select(col("query_id"), col("qv"), col("qn"))), Seq("query_id"))
      .select(
        col("query_id"),
        col(idCol),
        (dot(col("v"), col("qv")) / (col("nrm") * col("qn"))).as("cos_sim")
      )
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
