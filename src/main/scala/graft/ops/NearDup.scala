package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Near-duplicate detection: MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine variants.
  *
  * Scale posture (100 TB):
  *   - Candidate generation is ALWAYS a banded equi-join on compact
  *     signature keys — cost linear in rows + true candidates, never an
  *     all-pairs comparison. The shuffle keys are band hashes
  *     (high-cardinality), so partitioning is even; AQE handles
  *     residual skew from hot buckets.
  *   - Signatures are computed in one codegen'd projection per row
  *     (array lambdas over builtins; no UDFs, no mapPartitions).
  *   - Pair scoring joins the (small) signature table to the candidate
  *     pairs, not documents to documents.
  *
  * Portability: every hash is md5-derived and every bit/band extraction
  * is plain integer arithmetic over the hex text (via `ascii`), so an
  * independent engine (DuckDB oracle, ClickHouse) reproduces results
  * bit-for-bit — the same property the reference gets by compiling to
  * engine-neutral SQL.
  */
object NearDup {

  private def md5hex(c: Column): Column = md5(c.cast("binary"))

  // ---- shingling -------------------------------------------------------

  /** Whitespace tokens of the normalized text. */
  def tokens(text: Column): Column = split(TextOps.normalize(text), " ")

  /** Shingle-combine multipliers: `h_shingle = (h1·C1 + h2·C2 + h3) mod
    * P` over per-token hashes (all < P, so the sum stays < 2^62 — no
    * overflow). md5-derived inputs are uniform already; the linear mix
    * only has to keep distinct trigrams distinct.
    */
  private[graft] val C1 = 1000003L
  private[graft] val C2 = 10007L

  /** Exploded hashed 3-gram shingles: `(id, h)` with `h < P`.
    *
    * Plan shape: ONE codegen projection per row — the
    * [[graft.functions.ShingleHashes]] native expression computes the
    * whole shingle-hash array from the token array (one md5 per token,
    * integer 3-gram combine in a tight loop), then a generator explodes
    * it. No shingle strings are ever built and NO shuffle happens here:
    * round 8 replaced the earlier explode → hash → `lead`-window
    * formulation, whose doc-keyed window shuffled + sorted the entire
    * exploded token stream (~5M rows at sf1) before any signature
    * work. The first shuffle in every consumer is now the map-side
    * combined per-doc aggregation that follows. Docs shorter than 3
    * tokens hash their whole normalized text (= tokens joined by one
    * space).
    */
  private[ops] def hashedShingles(df: DataFrame, textCol: String, idCol: String, n: Int = 3): DataFrame =
    df.select(
      col(idCol),
      explode(graft.functions.TextHash.shingleHashes(tokens(col(textCol)), n)).as("h")
    )

  /** The hashed 3-gram shingle array of `text` (as in
    * [[hashedShingles]]), distinct, sorted, capped to the document's
    * `maxShingles` SMALLEST hashes — a bottom-k sketch. Without a cap
    * the per-doc shingle set is unbounded (a 1M-token document is a
    * 1M-element array row at collect time); the bottom-k prefix is
    * deterministic (hashes are distinct within a doc after distinct(),
    * so the order is total) and partition-independent.
    *
    * NOTE on the estimate: Jaccard over two INDEPENDENT bottom-k
    * sketches is a biased approximation (the textbook consistent
    * bottom-k estimator takes the k smallest of the UNION instead).
    * For docs under `maxShingles` distinct shingles it is exact; above
    * that it is a deterministic, oracle-mirrored approximation — the
    * DuckDB oracle computes the identical sketch
    * (`list_slice(list_sort(list_distinct(hs)), 1, k)`), so gate
    * parity holds by construction, not by unbiasedness.
    *
    * The dedup + sort + cap all happen IN THE ARRAY DOMAIN
    * (`array_distinct` → `array_sort` → `slice`, all codegen
    * collection expressions) on one array per row — zero shuffle, and
    * the cap bounds the row width before anything is materialized.
    * (The pre-round-8 form shuffled the exploded stream through
    * distinct() + a row_number window.)
    */
  private[ops] def cappedShingleSketch(text: Column, maxShingles: Int): Column =
    slice(array_sort(array_distinct(graft.functions.TextHash.shingleHashes(tokens(text)))), 1, maxShingles)

  // ---- MinHash + LSH ---------------------------------------------------

  /** 2^31 - 1 (Mersenne prime): modulus of the permutation hashes. */
  private[ops] val P = 2147483647L

  /** 32-bit integer hash of a string: the first 8 hex digits of its
    * md5 — ONE digest per input, everything downstream is integer
    * arithmetic. Portable: DuckDB spells it
    * `('0x' || substr(md5(x), 1, 8))::BIGINT`.
    */
  private[graft] def hash32(c: Column): Column =
    conv(substring(md5hex(c), 1, 8), 16, 10).cast("long")

  /** Permutation-hash parameters of component j (universal-hash
    * family `(a_j h + b_j) mod P`).
    */
  private def perm(j: Int): (Long, Long) = (
    (1103515245L * (j + 1) + 12345L) % P,
    (987654321L * (j + 1) + 67890L) % P
  )

  /** K-element MinHash signatures, one row per id: `(id, sig)`, over an
    * already-exploded `(id, h)` hashed-shingle frame.
    *
    * Plan shape: ONE groupBy with k primitive `min` aggregates over the
    * hashed shingles (map-side partial combine → the shuffle carries k
    * longs per doc per partition). This deliberately avoids nested
    * array lambdas: Spark evaluates higher-order functions interpreted
    * AND CollapseProject re-inlines a hashed-array alias into every
    * component's lambda (static ref-count is 1), which made an
    * array-based formulation recompute the digest k times per shingle
    * — ~50× slower, measured.
    */
  private[ops] def minhashSigsFromHashed(hashed: DataFrame, idCol: String, k: Int): DataFrame = {
    val comps = minhashAggColumns(k).zipWithIndex.map { case (c, j) => c.as(s"g$j") }
    hashed.groupBy(col(idCol)).agg(comps.head, comps.tail: _*)
      .select(col(idCol), array((0 until k).map(j => col(s"g$j")): _*).as("sig"))
  }

  /** `(id, sig)` MinHash signatures computed ROW-LOCALLY (round 19):
    * the k permutation minima fuse into one codegen loop per row over
    * a hash ARRAY ([[graft.functions.MinhashSig]] — `min` over mod-P
    * longs is order-free, so unlike the float signature aggregates
    * nothing is lost by leaving the aggregate form), deleting the
    * exploded shingle stream, the k-buffer aggregate, and the
    * signature exchange from every batch MinHash consumer. The
    * isNotNull filter reproduces the explode form's frame row-for-row
    * (docs whose hash array is null produced no exploded rows). The
    * aggregate spelling stays in [[minhashAggColumns]] for the
    * SQL-text backend and the DuckDB oracle.
    */
  private[ops] def minhashSigsRowwise(df: DataFrame, hashArr: Column, idCol: String, k: Int): DataFrame =
    df.select(col(idCol), graft.functions.MinhashSig(hashArr, k).as("sig"))
      .filter(col("sig").isNotNull)

  /** The k permutation-min aggregate Columns over a hashed-shingle
    * column `h` (unaliased, component order) — the signature
    * construction itself, exposed so the SQL-text backend renders the
    * SAME expressions the plan path aggregates (the r15 keepPredicate
    * pattern: one definition, two spellings).
    */
  private[graft] def minhashAggColumns(k: Int): Seq[Column] =
    (0 until k).map { j =>
      val (a, b) = perm(j)
      min((lit(a) * col("h") + lit(b)) % P)
    }

  /** Matching-component fraction of two k-element signature Columns —
    * the estimator of [[minhashPairs]] and `Incremental`, shared with
    * the SQL-text backend, which renders it as
    * `graft_minhash_matches(a, b, k)` (see
    * [[graft.functions.MinhashMatches]]).
    */
  private[graft] def minhashEstSim(a: Column, b: Column, k: Int): Column =
    graft.functions.MinhashMatches(a, b, k).cast("double") / k

  /** Band keys of a k-component signature array: element j covers
    * components [j·bandRows, (j+1)·bandRows).
    *
    * For bands of 1-2 components — every shipped geometry: minhash
    * pairs 32/2, ngram candidates 8/1, incremental 32/2 — the key is
    * the EXACT integer packing `c₀·P + c₁` (components are mod-P
    * residues, so the pack is a bijection into [0, P²) ⊂ [0, 2⁶³) —
    * identical collision behavior to the component tuple, candidate
    * set unchanged). Round 19: this replaced pipe-joined decimal
    * strings, which (a) ran INTERPRETED (transform+slice+array_join
    * per band — the engine's own no-higher-order-functions-on-hot-
    * paths rule, see minhashSigsFromHashed) and (b) shuffled ~40-char
    * text keys where 8 bytes carry the same information (guide §2.3:
    * narrower shuffle keys). The packed keys come from one loop per row
    * ([[graft.functions.MinhashBandKeys]]), which keeps the generated
    * class small. Wider bands (> 2 components, nothing ships them)
    * keep the string form — P³ would overflow a long.
    */
  private def bandKeysOfSig(sig: Column, nBands: Int, bandRows: Int): Column =
    if (bandRows <= 2) graft.functions.MinhashBandKeys(sig, nBands, bandRows)
    else transform(
      sequence(lit(0), lit(nBands - 1)),
      j => array_join(transform(slice(sig, j * bandRows + 1, lit(bandRows)), _.cast("string")), "|")
    )

  /** (id, band_idx, band_key) rows: the signature split into
    * `k / bandRows` bands of `bandRows` components each.
    */
  private[ops] def bandRowsOf(sigs: DataFrame, idCol: String, k: Int, bandRows: Int): DataFrame =
    sigs.select(col(idCol), posexplode(bandKeysOfSig(col("sig"), k / bandRows, bandRows)).as(Seq("band_idx", "band_key")))

  /** Candidate pairs (`id_a < id_b`) sharing at least one band, each
    * emitted EXACTLY ONCE — in its first matching band — with both
    * signatures carried for downstream scoring.
    *
    * The "no earlier band also matches" test is a join conjunct
    * (the first matching band, [[graft.functions.MinhashFirstBand]],
    * equals `band_idx`), evaluated inside the generated
    * join loop, so duplicate candidates die before materializing — the
    * same first-collision trick [[embedCosinePairs]] uses on its
    * integer signatures. This deletes the `distinct()` that previously
    * shuffled the FULL candidate multiset (a pair colliding in m bands
    * appeared m times), and carrying `sig` on the band rows lets
    * consumers score candidates with zero signature join-backs.
    * Cost trade: band rows widen by the k-long signature (~k·8 bytes),
    * vs. a full candidate-set exchange plus two joins back to the
    * signature table. Carrying wins when the signature is narrow
    * (embed: one long, 2.7× — round 8; ngram: k=8 with a ~1M-row
    * candidate multiset at sf1) and LOSES when it is wide (minhash
    * k=32: 5× at sf1 — round 10, BASELINE.md), so
    * [[minhashPairs]] uses [[bandCandidatesJoinBack]] instead.
    */
  private[ops] def bandCandidates(sigs: DataFrame, idCol: String, k: Int, bandRows: Int): DataFrame = {
    val nBands = k / bandRows
    val br = sigs.select(
      col(idCol), col("sig"),
      posexplode(bandKeysOfSig(col("sig"), nBands, bandRows)).as(Seq("band_idx", "band_key")))
    br.as("a")
      .join(
        br.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          graft.functions.MinhashFirstBand(col("a.sig"), col("b.sig"), nBands, bandRows) ===
            col("a.band_idx")
      )
      .select(
        col(s"a.$idCol").as("id_a"),
        col(s"b.$idCol").as("id_b"),
        col("a.sig").as("sig_a"),
        col("b.sig").as("sig_b")
      )
  }

  /** Join-back candidates (same output as [[bandCandidates]]):
    * sig-free band rows → band equi-join → `distinct()` over the
    * candidate multiset → two joins back to the signature table. The
    * band rows stay narrow (id + two ints, no k-long signature), at
    * the price of a candidate-set exchange plus two signature
    * join-backs. Used by [[minhashPairs]] (wide k=32 sigs, small
    * candidate set — wins 5× at sf1 over carrying); see the A/B note
    * there. [[ngramJaccardPairs]] keeps the carried form (narrow k=8
    * sigs, ~1M-row candidate multiset).
    */
  private[ops] def bandCandidatesJoinBack(
      sigs: DataFrame, idCol: String, k: Int, bandRows: Int): DataFrame = {
    val nBands = k / bandRows
    val br = sigs.select(
      col(idCol),
      posexplode(bandKeysOfSig(col("sig"), nBands, bandRows)).as(Seq("band_idx", "band_key")))
    val cand = br.as("a")
      .join(
        br.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cand
      .join(sigs.select(col(idCol).as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col(idCol).as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b"))
  }

  /** MinHash-LSH near-duplicate pairs with estimated similarity
    * (fraction of matching signature components) at or above
    * `minEstSim`. Output: `id_a, id_b, est_sim`.
    */
  def minhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 32,
      bandRows: Int = 2,
      minEstSim: Double = 0.25
  ): DataFrame = {
    // The explicit repartition(id) is a REUSE POINT (round 19): the
    // signature frame feeds the two band-row branches and the two
    // join-backs, and with the signature aggregate fused away there is
    // no exchange left for ReuseExchange to anchor on — each consumer
    // would re-run the md5 shingle hashing. One narrow (id, sig)
    // exchange (same bytes the old aggregate shuffled, map-side
    // combined) pins the hashing to a single pass. Interleaved 3-arm
    // A/B (round 19): rowwise+repartition 0.72–0.81 s vs
    // aggregate 0.81–1.05 s vs plain rowwise 0.94–1.09 s at sf0.1.
    val sigs = minhashSigsRowwise(
      df, graft.functions.TextHash.shingleHashes(tokens(col(textCol))), idCol, k)
      .repartition(col(idCol))
    // JOIN-BACK candidates, not carried-sig (round-10 A/B,
    // sentinel-clean both scales): with k=32 the carried
    // signature widens every band row by 256 B and the first-collision
    // conjunct re-evaluates a 32-element equality chain inside the
    // generated join loop — sf0.1 0.455 vs 0.864 s, sf1 1.33 vs 9.49 s
    // (candidate stage). The trade flips for ngram (k=8 sigs, ~1M-row
    // candidate multiset at sf1: the distinct + join-backs cost more
    // than the narrow carry — 1.37 vs 1.56 s), so ngramJaccardPairs
    // keeps [[bandCandidates]]. Verdict + numbers in BASELINE.md.
    val cand = bandCandidatesJoinBack(sigs, idCol, k, bandRows)
    // matching-component count in one loop per pair (not a
    // higher-order filter(sequence(...)), which evaluates interpreted
    // with one closure call per component per pair)
    val est = minhashEstSim(col("sig_a"), col("sig_b"), k)
    cand
      .select(col("id_a"), col("id_b"), est.as("est_sim"))
      .filter(col("est_sim") >= minEstSim)
  }

  /** Exact n-gram Jaccard over LSH candidates (single-component bands →
    * high recall at low thresholds: P(candidate) = 1-(1-s)^k). The
    * Jaccard is computed on the 32-bit-HASHED distinct shingle sets,
    * not the strings: set sizes are identical up to hash collisions
    * (~52²/2^33 per pair) and the candidate join shuffles compact long
    * arrays instead of text. Pairs with Jaccard ≥ `minJaccard`.
    *
    * Docs with more than `maxShingles` (default 4096) distinct
    * shingles are represented by their bottom-k sketch (see
    * [[cappedShingleSketch]]): for such docs the reported `jaccard`
    * is the deterministic sketch estimate, not the exact set Jaccard,
    * and `minJaccard` thresholds against that estimate.
    * Output: `id_a, id_b, jaccard`.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      minJaccard: Double = 0.2,
      maxShinglesPerDoc: Int = 4096
  ): DataFrame = {
    require(maxShinglesPerDoc > 0, "maxShinglesPerDoc must be positive")
    // The capped sketch is born as an ARRAY (one codegen projection,
    // see cappedShingleSketch) — so the per-doc sets need no
    // explode + collect_list round trip: `sets` IS that projection,
    // and only the signature path explodes (its min-aggregates are
    // map-side combined before the one small shuffle). The two
    // join-backs below shuffle the same `sets` subtree, which
    // ReuseExchange deduplicates into one exchange. (The pre-round-8
    // window formulation instead re-collected the exploded stream —
    // a full shuffle of every shingle hash.)
    // The explicit repartition(id) is a REUSE POINT (round 19): `sets`
    // feeds the rowwise signature path AND both join-backs, and with
    // the signature aggregate gone there is no exchange left for
    // ReuseExchange to anchor on — each consumer would re-run the md5
    // shingle hashing. One narrow (id, hs) exchange pins the hashing
    // to a single pass; the join-backs then join ON the partition key.
    // Interleaved 4-arm A/B (round 19): rowwise+repartition
    // beat the old aggregate shape in every round (0.68–0.98 s vs
    // 0.86–1.21 s at sf0.1).
    val sets = df.select(col(idCol), cappedShingleSketch(col(textCol), maxShinglesPerDoc).as("hs"))
      .repartition(col(idCol))
    val sigs = minhashSigsRowwise(sets, col("hs"), idCol, k)
    // first-collision band join: each candidate pair arrives exactly
    // once (no distinct() shuffle); the carried signatures are dropped
    // — Jaccard needs the sketch sets, which join back below
    val cand = bandCandidates(sigs, idCol, k, 1).select(col("id_a"), col("id_b"))
    // Sketch arrays are sorted + distinct, so |A∩B| is a single
    // two-pointer merge (codegen SortedIntersectSize) and |A∪B| is
    // |A| + |B| − |A∩B| — replacing the hash-set-building
    // array_intersect/array_union pair, which was ~70% of the
    // operator's sf1 wall-time. `inter` is aliased behind a projection
    // so the merge runs once per pair.
    cand.as("c")
      .join(sets.as("h1"), col("c.id_a") === col(s"h1.$idCol"))
      .join(sets.as("h2"), col("c.id_b") === col(s"h2.$idCol"))
      .select(
        col("c.id_a"), col("c.id_b"),
        graft.functions.ArrayMath.sortedIntersectSize(col("h1.hs"), col("h2.hs"))
          .cast("double").as("inter"),
        (size(col("h1.hs")) + size(col("h2.hs"))).cast("double").as("tot")
      )
      .select(
        col("id_a"), col("id_b"),
        (col("inter") / (col("tot") - col("inter"))).as("jaccard")
      )
      .filter(col("jaccard") >= minJaccard)
  }

  // ---- SimHash ---------------------------------------------------------

  /** SimHash signature width: 60 bits (4 bands × 15 bits).
    *
    * Round 8 widened this from 32 bits (4 × 8): 256 buckets per band
    * made candidate pairs quadratic in the corpus — ~195 docs per
    * bucket at sf1 ⇒ 19.6M candidate pairs before the hamming filter.
    * 15-bit bands give 32768 buckets per band; the pigeonhole recall
    * guarantee is IDENTICAL (any pair within hamming ≤ 3 of a 4-band
    * signature still agrees on ≥ 1 whole band). 60 (not 64) keeps the
    * signature and every band arithmetic inside a positive signed
    * long on both engines.
    */
  private[graft] val SimBits = 60
  private[graft] val SimBandBits = 15

  /** 60-bit token hash: the first 15 md5 hex digits (DuckDB:
    * `('0x' || substr(md5(x), 1, 15))::BIGINT`).
    */
  private[graft] def hash60(c: Column): Column =
    conv(substring(md5hex(c), 1, 15), 16, 10).cast("long")

  /** The [[SimBits]] per-bit ±1 sum aggregates over a token-hash
    * column `h` (unaliased, bit order) — shared with the SQL-text
    * backend (the minhashAggColumns pattern).
    */
  private[graft] def simhashBitSums: Seq[Column] = (0 until SimBits).map { i =>
    sum(when(col("h").bitwiseAND(lit(1L << i)) > 0, 1).otherwise(-1))
  }

  /** Sign-bit packing of the [[SimBits]] bit sums (`s(i)` = the i-th
    * sum Column) into one long — shared with the SQL-text backend.
    */
  private[graft] def simhashPacked(s: Int => Column): Column =
    (0 until SimBits).map(i => when(s(i) > 0, lit(1L << i)).otherwise(lit(0L))).reduce(_ + _)

  /** [[SimBits]]-bit SimHash values, one row per id: `(id, sim)`. Bit
    * i of the result is the sign of `Σ_tokens (2·bit_i(hash(token)) −
    * 1)` (term-frequency weighted). Same explode → codegen hash →
    * primitive-aggregate shape as [[minhashSigsFromHashed]], for the
    * same reason: everything stays in whole-stage codegen with map-side
    * partial sums.
    */
  def simhashSigs(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // ONE fused loop per row (round 19, graft.functions.SimhashSig):
    // the per-bit ±1 sums are integer and commutative, so unlike the
    // float signature ops they fuse row-locally with no
    // accumulation-order hazard — deleting the exploded token stream,
    // the 60-buffer aggregate, and the signature exchange (the
    // operator's only remaining shuffle is the banded self-join).
    // The isNotNull filter reproduces the explode form's frame
    // row-for-row: docs with a null text produced no exploded rows.
    // The aggregate spelling lives on in simhashBitSums/simhashPacked
    // for the SQL-text backend and the DuckDB oracle.
    df.select(col(idCol), graft.functions.SimhashSig(tokens(col(textCol))).as("sim"))
      .filter(col("sim").isNotNull)

  /** SimHash near-duplicate pairs: 4 bands of [[SimBandBits]] bits
    * generate candidates; pairs within `maxHamming` bits survive.
    * Output: `id_a, id_b, hamming`.
    *
    * Unlike the MinHash/embedding pipelines (band rows carry ids only;
    * wide signatures join back), the whole SimHash signature is ONE
    * long — band rows carry it, the hamming distance is computed
    * directly on the banded join output, and the two signature
    * join-backs disappear (measured 2.5 s → 0.9 s at sf0.1; at scale
    * it is 8 extra bytes per band row vs two extra shuffle joins).
    *
    * Each pair is emitted EXACTLY ONCE — in its FIRST matching band —
    * via a "no earlier band also agrees" join conjunct on `sim_a XOR
    * sim_b` (the [[embedCosinePairs]] first-collision trick on the
    * same packed-long geometry). This deletes the `distinct()` that
    * previously shuffled the full candidate multiset: a pair within
    * hamming ≤ 3 of a 4-band signature agrees on ≥ 1 whole band and
    * often on 2-4, so up to 4 copies of every output pair crossed that
    * exchange. Duplicate candidates now die inside the generated join
    * loop before materializing (round 19; plan: 5 Exchange → 4, the
    * candidate-multiset exchange gone).
    */
  def simhashPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val sims = simhashSigs(df, textCol, idCol)
    // Band extraction MUST be integer arithmetic: the `/ pow(2, …)`
    // form divides as DOUBLE, and a 60-bit sim exceeds the 53-bit
    // mantissa — the rounded quotient lands ~1% of keys in the wrong
    // band (caught by the sf1 gate: 13,273 vs 13,408 pairs). The
    // 32-bit signature never hit this; shiftrightunsigned is exact at
    // any width and mirrors DuckDB's BIGINT `//`.
    val bands = array((0 until 4).map { j =>
      shiftrightunsigned(col("sim"), j * SimBandBits) % (1 << SimBandBits)
    }: _*)
    val bandRows = sims.select(col(idCol), col("sim"), posexplode(bands).as(Seq("band_idx", "band_key")))
    val a = bandRows.select(col(idCol).as("id_a"), col("sim").as("sim_a"), col("band_idx"), col("band_key"))
    val b = bandRows.select(col(idCol).as("id_b"), col("sim").as("sim_b"), col("band_idx"), col("band_key"))
    // first agreeing band of the two signatures: lowest i whose
    // SimBandBits-bit slice of the XOR is all-zero (same integer
    // arithmetic as the band keys, so the two can never disagree)
    val firstMatch = (0 until 4).foldRight(lit(4)) { (i, rest) =>
      when(
        shiftrightunsigned(col("sim_a").bitwiseXOR(col("sim_b")), i * SimBandBits)
          % (1 << SimBandBits) === 0L,
        lit(i)
      ).otherwise(rest)
    }
    a.as("a").join(
        b.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("id_a") < col("id_b") &&
          firstMatch === col("a.band_idx")
      )
      .select(
        col("id_a"),
        col("id_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("int").as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
  }

  /** Remove near-duplicates from the corpus given a candidate-pair
    * frame (`id_a < id_b` convention, as produced by the *Pairs ops):
    * every row whose id appears as the GREATER member of a pair is
    * dropped, so exactly the smallest id of each duplicate cluster
    * that is not itself dominated survives. Greedy-by-id (the
    * standard corpus-dedup rule — deterministic, one anti-join, no
    * iterative connected components).
    *
    * Scale: the pairs frame is tiny relative to the corpus (true
    * near-dups only), so Catalyst plans the anti-join as a broadcast.
    */
  def dropNearDuplicates(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame =
    df.join(
      pairs.select(col("id_b").as("__drop_id")).distinct(),
      col(idCol) === col("__drop_id"),
      "left_anti"
    )

  /** Duplicate-cluster assignment: connected components over the
    * near-dup pair graph by min-label propagation WITH POINTER JUMPING
    * — each doc ends up labeled with the smallest id reachable through
    * pairs (the cluster representative).
    *
    * Each round does two steps:
    *   1. hop  — adopt the smallest label among direct neighbours;
    *   2. jump — adopt the label OF the current label (`root ←
    *      root(root)`).
    * The jump step doubles the propagation radius per round, so `k`
    * rounds cover any cluster of diameter ≤ `2^k − 1` (k=6 → 63 hops)
    * instead of the `k` hops plain propagation reaches — the
    * long-chain shape that a fixed hop-only count silently splits.
    *
    * `iterations` is a FIXED CAP (so the result is exactly
    * reproducible by an unrolled SQL oracle even on a pathological
    * chain), but rounds STOP EARLY at the first round that changes no
    * label (round 20): per-vertex labels only ever decrease and a
    * round is a deterministic function of the labels, so a no-op round
    * is a fixed point — every remaining round is also a no-op and the
    * early-terminated output is bit-identical to the full `iterations`
    * unroll. Real near-dup graphs are overwhelmingly cliques/stars
    * that settle in 1–2 rounds; the cap only bites on diameter->2^k
    * chains, where the unrolled-oracle contract needs it.
    *
    * The pair list is materialized once (checkpointed) and read as the
    * edge set, both directions of every pair. Where the rounds then run
    * is decided from that materialized edge count —
    * the runtime-statistics choice of Shark's partial DAG execution:
    *
    *   - DRIVER FINISH. One [[PlanTimeModel.collect]] (see its bake
    *     contract for the cap) gathers the edges whose two endpoints
    *     are both ids of `df` (two `left_semi` joins). When they fit,
    *     the same hop and jump rounds (same cap, same early stop) run
    *     on the driver over flat `Int` arrays, and the `(u, root)` label
    *     map returns as a local relation. Labels must order exactly as
    *     Spark's `least`/`min` do, so the vertex ids are sorted once in
    *     the collect's key order and all label work is on their ranks;
    *     only its eligible id types take this path.
    *     Construction jobs: the pair checkpoint's (it runs the pairs
    *     pipeline) and one collect, against two checkpoints and a
    *     change test per distributed round.
    *   - DISTRIBUTED ROUNDS. Any other id type, and any edge set over
    *     the cap, runs the O(pairs) DataFrame loop
    *     ([[distributedLabels]]) — the form that scales to 100 TB.
    *
    * Either way only edge endpoints present in `df` carry labels, and
    * every other row (no pair edge) keeps its own id: `df` is
    * left-joined to the label map with `coalesce(root, id)`.
    *
    * Fault tolerance: the default `localCheckpoint` stores blocks on
    * executors — fast, but a lost executor on a real cluster kills the
    * job instead of recomputing (lineage is gone). Pass `checkpointDir`
    * (HDFS/S3/cluster FS) to use RELIABLE `checkpoint` instead: the
    * pair list and each distributed round's tiny (id, label) frame are
    * persisted to the shared FS and survive executor loss. Locally the
    * default is unchanged.
    * Output: `idCol, cluster_id`.
    */
  def clusters(df: DataFrame, pairs: DataFrame, idCol: String, iterations: Int = 6,
      checkpointDir: Option[String] = None): DataFrame = {
    require(iterations >= 1, "iterations must be >= 1")
    val ckpt: DataFrame => DataFrame = checkpointDir match {
      case Some(dir) =>
        df.sparkSession.sparkContext.setCheckpointDir(dir)
        d => d.checkpoint(eager = true)
      case None => d => d.localCheckpoint(eager = true)
    }
    // materialize the pair list ONCE and truncate its lineage: the
    // edge set is read by every distributed round (and by the driver
    // finish's collect), and an expensive pairs pipeline (LSH banding)
    // would otherwise re-execute per read (measured 33 s -> 2.9 s at
    // sf0.1). The checkpoint stores only the tiny pair list, not the
    // corpus, and runs the pairs plan exactly as given, so every class
    // it generates is the one a query of `pairs` alone compiles. Both
    // edge directions come from ONE branch over it: each pair row emits
    // (a, b) and (b, a) through `inline`, the multiset the union of two
    // swapped selects gave (null endpoints and duplicates kept).
    val edges = ckpt(pairs).select(inline(array(
      struct(col("id_a").as("u"), col("id_b").as("v")),
      struct(col("id_b").as("u"), col("id_a").as("v")))))
    val labels = driverLabels(df, edges, idCol, iterations)
      .getOrElse(distributedLabels(df, edges, idCol, iterations, ckpt))
    // internal names must not collide with an arbitrary idCol
    val lab = labels.select(col("u").as("__cc_u"), col("root").as("__cc_root"))
    df.select(col(idCol))
      .join(lab, col(idCol) === col("__cc_u"), "left")
      .select(col(idCol), coalesce(col("__cc_root"), col(idCol)).as("cluster_id"))
  }

  /** The driver finish of [[clusters]]: `Some((u, root))` as a local
    * relation when the id type qualifies and at most `cap` edges have
    * both endpoints in `df`, else `None`.
    *
    * Restricting the edges to in-`df` endpoints changes nothing: in the
    * distributed rounds an endpoint outside `df` has no label, so it
    * neither receives one (its hop row is filtered out) nor passes one
    * on (the neighbour join finds no label for it). Null endpoints
    * match no id and drop out the same way.
    */
  private def driverLabels(df: DataFrame, edges: DataFrame, idCol: String,
      iterations: Int): Option[DataFrame] = {
    val ids = df.select(col(idCol))
    val inDf = edges
      .join(ids.toDF("u"), Seq("u"), "left_semi")
      .join(ids.toDF("v"), Seq("v"), "left_semi")
      .select("u", "v") // a USING semi join puts its key first
    val collected = PlanTimeModel.collect(inDf, key = 0) match {
      case Some(c) => c
      case None => return None
    }
    val rows = collected.rows
    val ord = collected.keyOrder

    // rank the endpoint values in Catalyst's order for `dt`; slot 2e is
    // edge e's u, slot 2e + 1 its v
    val keys = Array.tabulate(2 * rows.length)(s => collected.value(rows(s / 2), s % 2))
    val bySlot = Array.range(0, keys.length).sortBy(keys(_))(ord)
    val vertex = new Array[Int](keys.length) // slot → rank of its id
    val rankedIds = Array.newBuilder[Any] // the ids in rank order
    var n = 0
    for (k <- bySlot.indices) {
      val s = bySlot(k)
      if (k == 0 || !ord.equiv(keys(bySlot(k - 1)), keys(s))) {
        rankedIds += keys(s)
        n += 1
      }
      vertex(s) = n - 1
    }
    val idAt = rankedIds.result()

    // the distributed rounds on ranks: hop reads the previous round's
    // labels only, jump chases a label's label, early stop at a no-op
    // round (the edge list already holds both directions)
    var root = Array.range(0, n)
    var round = 0
    var changed = true
    while (round < iterations && changed) {
      round += 1
      val hop = root.clone()
      var e = 0
      while (e < rows.length) {
        val u = vertex(2 * e)
        val r = root(vertex(2 * e + 1))
        if (r < hop(u)) hop(u) = r
        e += 1
      }
      val jump = Array.tabulate(n)(u => math.min(hop(u), hop(hop(u))))
      changed = !java.util.Arrays.equals(jump, root)
      root = jump
    }
    val dt = edges.schema("u").dataType
    val schema = StructType(Seq(StructField("u", dt), StructField("root", dt)))
    val toScala = CatalystTypeConverters.createToScalaConverter(dt)
    val labelRows = Array.tabulate(n)(u => Row(toScala(idAt(u)), toScala(idAt(root(u)))))
    Some(df.sparkSession.createDataFrame(java.util.Arrays.asList(labelRows: _*), schema))
  }

  /** The distributed rounds of [[clusters]], as plain DataFrame joins so
    * AQE and broadcast apply. Each round's hop is one equi-join +
    * aggregate against the edge set and its jump a self-join of the
    * label frame on `root = u`. The change test is one tiny job per
    * round (`isEmpty` over the checkpointed O(pairs) frame — the hop
    * aggregate already carries each vertex's previous root, so no extra
    * join). The label frame is checkpointed once per round, which both
    * truncates the otherwise-exponential self-join lineage and bounds
    * per-round work to one pass over the (id, label) frame.
    * Output: `u, root` for the edge endpoints present in `df`.
    */
  private def distributedLabels(df: DataFrame, edges: DataFrame, idCol: String,
      iterations: Int, ckpt: DataFrame => DataFrame): DataFrame = {
    // Iterate over the pair graph's VERTEX SET, not the corpus (round
    // 19): a row with no pair edge can never change its label (nbrMin
    // has no row for it; its root is its own id, so the jump self-join
    // maps it to itself), so carrying the whole corpus through 6
    // rounds of hop + jump joins — 2-3 corpus-scale exchanges per
    // round, 6 corpus-scale checkpoint materializations — computed
    // nothing for the (overwhelming at 100 TB) non-duplicate majority.
    // Every per-round frame is now O(|pairs|); isolated rows join
    // their own id back in ONE final broadcast-size left join. The
    // corpus semi-join keeps the original contract exactly: an edge
    // endpoint NOT present in `df` never gets a label, so its id can
    // never be adopted as a root (labels propagate only through
    // labeled vertices, as before).
    //
    // labels propagate in the id's OWN type: least/min are defined on
    // strings too, and a cast("long") would turn non-numeric doc ids
    // into NULL roots and silently collapse every cluster_id
    var labels = edges.select(col("u")).distinct()
      .join(df.select(col(idCol).as("u")), Seq("u"), "left_semi")
      .withColumn("root", col("u"))
    var round = 0
    var converged = false
    while (round < iterations && !converged) {
      round += 1
      // hop: smallest among the vertex's own label and its labeled
      // neighbours' labels. ONE aggregate over a tagged union (round
      // 19) instead of the former join → groupBy → join-back chain:
      // `least(root, min(neighbour roots))` IS `min` over {own root} ∪
      // {neighbour roots}, so the self rows ride the same exchange as
      // the neighbour rows and the join-back of `labels` to the
      // aggregated neighbour minima — a full extra shuffle of the
      // label frame per round at cluster scale — disappears. The
      // `max(__self) = 1` filter keeps exactly the rows the old LEFT
      // join kept: a vertex outside `labels` (edge endpoint not in
      // `df`) contributes neighbour rows but has no self row, so it is
      // dropped, and every labels-vertex has a self row, so none are.
      // Checkpointed because the jump self-join references it twice —
      // without it the plan (and the recompute cost) doubles every
      // round. `__prev` (the vertex's pre-round root — exactly its one
      // self row's cand) rides the same aggregate so the convergence
      // test below needs no join back to the previous label frame.
      val nbrRows = edges
        .join(labels.select(col("u").as("v"), col("root").as("nroot")), "v")
        .select(col("u"), col("nroot").as("cand"), lit(0).as("__self"))
      val hopped = ckpt(labels
        .select(col("u"), col("root").as("cand"), lit(1).as("__self"))
        .unionByName(nbrRows)
        .groupBy("u")
        .agg(min(col("cand")).as("root"),
          max(when(col("__self") === 1, col("cand"))).as("__prev"),
          max(col("__self")).as("__s"))
        .filter(col("__s") === 1)
        .select(col("u"), col("root"), col("__prev")))
      // jump: root ← root(root). A label is always the id of a node in
      // the same component (inductively: own id, a neighbour's label,
      // or a label's label), so chasing it stays in-component and only
      // ever decreases toward the component minimum.
      //
      // Checkpointed TOO (round 20, OPTIMIZATION_r20.md): left lazy,
      // this join re-executed once for the convergence test and twice
      // more inside the next round's hop materialization (`labels` is
      // referenced by both hop arms) — 3 executions of an O(pairs)
      // join per round for one round's worth of work. Materializing it
      // costs one more tiny-frame checkpoint job and makes the
      // convergence isEmpty a scan of stored blocks. Measured (pairs
      // pre-materialized so only the clustering machinery is timed):
      // medians 1.01/0.88/0.81 s → 0.79/0.77/0.77 s at sf0.1,
      // 1.93/1.43/2.09 → 1.51/1.51/1.60 at sf1; row diff 0.
      val jumped = ckpt(hopped
        .join(hopped.select(col("u").as("__r"), col("root").as("__rr")), col("root") === col("__r"), "left")
        .select(col("u"),
          least(col("root"), coalesce(col("__rr"), col("root"))).as("root"),
          col("__prev")))
      // early termination: a round that changed nothing is a fixed
      // point (labels only decrease; rounds are deterministic), so the
      // remaining rounds are no-ops — skip them. Not checked on the
      // last permitted round (nothing left to skip).
      if (round < iterations)
        converged = jumped.filter(col("root") =!= col("__prev")).isEmpty
      labels = jumped.select(col("u"), col("root"))
    }
    labels
  }

  /** Per-ROW MinHash band rows, the streaming-safe form: the same
    * tokens → hashed 3-gram shingles → k-component signature →
    * `bandRows`-row bands as the batch pipeline (bit-identical band
    * keys), but computed entirely inside row-local array expressions —
    * no explode→groupBy, no window, no shuffle — so it composes with
    * Structured Streaming's stateful operators (see
    * `Streaming.dedupMinhashBands`).
    *
    * Each intermediate rides in a MULTI-referenced column alias:
    * CollapseProject only re-inlines single-reference aliases, so the
    * md5 token hashing runs once per row, not once per signature
    * component (the measured 49× recompute trap). Higher-order array
    * functions still evaluate interpreted — per-row cost is above the
    * batch path's codegen explode→agg, which remains the bulk-batch
    * path ([[minhashPairs]]).
    *
    * Output: input columns + `band_idx`, `band_key` (k/bandRows rows
    * per input row).
    */
  def rowBandRows(df: DataFrame, textCol: String, k: Int = 32, bandRows: Int = 2): DataFrame = {
    require(k >= 1 && bandRows >= 1 && k % bandRows == 0, "bandRows must divide k")
    val nBands = k / bandRows
    // Signature via the CODEGEN expressions (round 19): the shingle
    // hashing and the k permutation minima are
    // [[graft.functions.ShingleHashes]] + [[graft.functions.MinhashSig]]
    // — bit-identical values to the former interpreted-`transform`
    // chain (same % P token hashes, same 3-gram combine incl. the
    // whole-text short-doc fallback, same perm constants), with the
    // per-token md5 loop inside whole-stage codegen instead of one
    // closure call per token per row. Band keys KEEP the pipe-joined
    // string form — it is part of the streaming gate entries' declared
    // output — but are now built from fixed `concat_ws`/`element_at`
    // trees (codegen) instead of interpreted array_join(transform(…)).
    // NULL-TEXT DOCS EMIT NO BAND ROWS — an INTENTIONAL round-19
    // behavior change (advice r19): the pre-codegen interpreted chain
    // produced a non-null signature of k NULL components for null text
    // (transform over sequence(1,k)), and array_join skips nulls, so
    // such docs emitted nBands rows keyed "" — colliding with every
    // other null-text doc. The codegen signature is NULL for null
    // text, the band array nulls, and explode drops the row: null-text
    // docs now collide with nothing (pinned in RowBandSpec). All
    // declared streaming-gate outputs are oracle-exact under the new
    // behavior (their corpora carry no null texts).
    val sig = graft.functions.MinhashSig(
      graft.functions.TextHash.shingleHashes(tokens(col(textCol))), k)
    val bands = when(
      col("__sig").isNotNull,
      array((0 until nBands).map { bi =>
        struct(
          lit(bi).cast("int").as("band_idx"),
          concat_ws("|", (1 to bandRows).map(r =>
            element_at(col("__sig"), bi * bandRows + r).cast("string")): _*).as("band_key")
        )
      }: _*)
    )
    df.withColumn("__sig", sig)
      .withColumn("__band", explode(bands))
      .select((df.columns.map(col) :+ col("__band.band_idx") :+ col("__band.band_key")): _*)
  }

  /** Per-ROW embedding sign-LSH band rows, the streaming-safe form of
    * [[embedCosinePairs]]' candidate keys: the rowwise
    * [[graft.functions.PackedSignSig]] signature (one fused planes×dim
    * codegen loop over a plan-time plane matrix — round 12) plus
    * [[signBandKeys]]' integer band extraction, all row-local — no
    * shuffle, no aggregation — so it composes with Structured
    * Streaming's stateful operators (see `Streaming.dedupEmbedBands`).
    * Band keys are bit-identical to the batch pipeline's: same LCG
    * plane stream, same left-fold dot order, same shift/mod banding.
    *
    * Output: input columns + `band_idx`, `band_key`
    * (`planes / bandBits` rows per input row). Degenerate vectors
    * (shorter than `dim`, or null among the first `dim` components)
    * carry NULL band keys — they collide with nothing but other
    * degenerates, mirroring the batch path where their NULL norm kills
    * every cosine.
    */
  def rowEmbedBandRows(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      planes: Int = 32,
      bandBits: Int = 8
  ): DataFrame = {
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    require(bandBits >= 1 && planes / bandBits >= 1,
      s"bandBits must be in [1, planes], got $bandBits")
    val nBands = planes / bandBits
    val mat = Array.tabulate(planes * dim)(i => Project.planeValue(i.toLong))
    df.withColumn("__sig",
        graft.functions.PackedSignSig(doubles(col(vecCol)), mat, dim))
      .withColumn("__bands", signBandKeys(col("__sig"), nBands, bandBits))
      .select(
        df.columns.map(col) :+
          posexplode(col("__bands")).as(Seq("band_idx", "band_key")): _*)
  }

  /** The production corpus-dedup pipeline: exact dedup FIRST (clone
    * cliques make any pairs operator's output quadratic in clique
    * size), then MinHash-LSH near-dup removal on the survivors.
    * Linear even on heavily-duplicated corpora.
    */
  def deduplicateCorpus(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val exact = Dedup.exact(df, textCol, idCol)
    dropNearDuplicates(exact, minhashPairs(exact, textCol, idCol), idCol)
  }

  // ---- embedding cosine --------------------------------------------------

  /** Deterministic pseudo-random hyperplane component for flat index
    * `idx`: LCG step mapped to [-0.5, 0.5). Exact in double arithmetic,
    * so any engine reproduces it.
    */
  private[ops] def planeComponent(idx: Column): Column =
    (((lit(1103515245L) * idx + 12345L) % 2147483648L) / lit(2147483648.0)) - 0.5

  /** Left-fold double dot product (deterministic summation order).
    * Native codegen expression — the builtin `aggregate(zip_with(...))`
    * composition evaluates interpreted, one closure call per element.
    */
  private[ops] def dot(a: Column, b: Column): Column =
    graft.functions.ArrayMath.dotProduct(a, b)

  /** A vector column widened to `array<double>`: Spark's array `Cast`,
    * the per-element cast of `transform(v, x -> cast(x as double))`
    * (same nulls, same ANSI errors) as one generated loop, where the
    * lambda form is a `CodegenFallback` that splits whole-stage codegen.
    */
  private[graft] def doubles(v: Column): Column = v.cast("array<double>")

  /** Band keys of a sign-LSH signature: element j is bits
    * [j·bandBits, (j+1)·bandBits) of `sig`. MUST be integer
    * arithmetic: the `/ pow(2, …)` form divides as DOUBLE and is exact
    * only while the signature fits the 53-bit mantissa — the comment in
    * [[embedCosinePairs]] recommends 64/16 geometry at real scale,
    * where rounding would land ~1% of keys in wrong bands (the same
    * bug class the 60-bit simhash hit at sf1, fixed in 7dd42e9).
    * `shiftrightunsigned` is exact at any width and mirrors DuckDB's
    * BIGINT `//`; it is also the form [[embedCosinePairs]]'s
    * first-collision predicate uses, so the two can never disagree.
    * Shared by embedCosinePairs and Ann.lshTopK, so the two generate
    * the EXACT same candidate set (a re-derived copy drifted once in
    * round 8).
    */
  private[ops] def signBandKeys(sig: Column, nBands: Int, bandBits: Int): Column = {
    // Long modulus, bounded width: `1 << bandBits` as Int wraps to 1 at
    // bandBits = 32 (and the sign bit corrupts 31), making every band
    // key 0 — a degenerate always-equal key that would turn the band
    // join into a cross join. Signatures are ≤ 62 bits (signSigs), so
    // any wider band is a sizing bug worth failing fast on.
    require(bandBits >= 1 && bandBits <= 62, s"bandBits must be in [1, 62], got $bandBits")
    require(nBands.toLong * bandBits <= 62, s"nBands*bandBits must fit a 62-bit signature, got $nBands*$bandBits")
    array((0 until nBands).map { j =>
      shiftrightunsigned(sig, j * bandBits) % (1L << bandBits)
    }: _*)
  }

  /** Per-row sign-LSH signatures + norms for an embedding frame:
    * `(id, v, nrm, sig)` where bit p of `sig` is the sign of the dot
    * product with deterministic hyperplane p ([[planeComponent]]).
    *
    * Plan shape (round 12): the whole signature is ONE fused
    * planes×dim codegen loop per row over a plan-time plane matrix
    * ([[graft.functions.PackedSignSig]]) — no shuffle, and the double
    * summation order is the in-array order, bit-for-bit the
    * `list_reduce` left fold the DuckDB oracle computes.
    *
    * DEGENERATE VECTORS (advice, round 12): a vector SHORTER than
    * `dim`, or with a null component among its first `dim` positions,
    * gets signature 0 and a NULL `nrm` (PackedSignSig/DotProduct
    * return null; the null norm then nulls every cosine the row
    * touches, so such rows never produce pairs). Elements PAST `dim`
    * are ignored. The pre-round-12 aggregate shape instead skipped
    * null terms and folded extra elements into later planes — callers
    * relying on that behavior for ragged corpora should clean vectors
    * to exactly `dim` non-null components first. Matches the oracle.
    */
  private[ops] def signSigs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      planes: Int
  ): DataFrame = {
    // 62, not 64: sign bits pack into a positive signed long
    // (1L << 63 is negative; 62 leaves headroom for band arithmetic).
    require(planes >= 1 && planes <= 62, s"planes must be in [1, 62], got $planes")
    // ROWWISE baked-matrix form (round 12): the plane matrix —
    // the same LCG stream as before, planeValue(p·dim + j) — rides
    // the generated code as one reference object and the whole
    // signature is one fused planes×dim loop per row
    // (functions.PackedSignSig). Replaces explode → groupBy with
    // `planes`+1 double-sum aggregates → join-back: that shape paid
    // an n-row shuffle plus a join per signature pass, and its
    // grouped double sums are only left-fold-exact while every
    // (id, plane) group stays in ONE aggregation partial — the same
    // spill-order hazard the baked cell assignment removed
    // (BASELINE.md round 12: 99/12.19M rows drifted at sf10).
    val base = df.select(col(idCol), doubles(col(vecCol)).as("v"))
    val mat = Array.tabulate(planes * dim)(i => Project.planeValue(i.toLong))
    base.select(
      col(idCol),
      sqrt(graft.functions.ArrayMath.dotProduct(col("v"), col("v"))).as("nrm"),
      graft.functions.PackedSignSig(col("v"), mat, dim).as("sig"),
      col("v"))
  }

  /** The LSH band-geometry sizing rule, as code: the `bandBits` that
    * keeps expected bucket occupancy `n / 2^bandBits` at or below
    * `targetOccupancy`, clamped to the packed-signature limits. With a
    * FIXED geometry, bucket occupancy grows linearly in the corpus and
    * candidate pairs quadratically — measured at sf1/sf3/sf10: 102k →
    * 982k → 11.14M pairs under the default 32/8, vs ~94% of the pair
    * mass at 4.5× less cost under 60/15 at sf10 (BASELINE.md round
    * 12). Size `bandBits` from the corpus estimate at plan time;
    * recover recall by adding BANDS (more planes), never by widening
    * buckets.
    *
    * @param n expected corpus row count (an estimate is fine — one
    *          bit of error doubles/halves occupancy, nothing breaks)
    * @param targetOccupancy expected rows per band bucket to aim for
    */
  def bandBitsFor(n: Long, targetOccupancy: Int = 64): Int = {
    require(n >= 1 && targetOccupancy >= 1,
      s"need n >= 1 and targetOccupancy >= 1, got $n, $targetOccupancy")
    // non-overflowing ceildiv: n + (t-1) wraps negative near Long.MaxValue
    val ceilDiv = n / targetOccupancy + (if (n % targetOccupancy == 0) 0 else 1)
    val needed = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, ceilDiv - 1))
    math.min(31, math.max(1, needed)) // ≥2 bands within a 62-bit packed sig
  }

  /** Full band geometry from a corpus-size estimate: `(planes,
    * bandBits)` with bucket occupancy bounded by [[bandBitsFor]] and
    * as many bands as fit the 62-bit packed signature, capped at the
    * default 4 (recall rises with band count; 4 matches the measured
    * sizing curve's 32/8 → 48/12 → 60/15 ladder, and past 15-bit
    * bands the packed signature forces fewer, wider bands).
    */
  def autoGeometry(n: Long, targetOccupancy: Int = 64, maxBands: Int = 4): (Int, Int) = {
    require(maxBands >= 2, s"need maxBands >= 2, got $maxBands")
    val bits = bandBitsFor(math.max(1L, n), targetOccupancy)
    val nBands = math.max(2, math.min(maxBands, 62 / bits))
    (nBands * bits, bits)
  }

  /** Embedding near-duplicate pairs via sign-LSH candidates + exact
    * cosine rescoring. `planes` random hyperplanes give a `planes`-bit
    * signature, split into bands of `bandBits`; candidates share a
    * band. Output: `id_a, id_b, cos_sim`.
    *
    * DEFAULT GEOMETRY IS ADAPTIVE (round 13): leaving `planes` and
    * `bandBits` unset resolves the band geometry from the actual
    * corpus count at plan time ([[autoGeometry]]) — the sf10 sweep
    * showed a fixed geometry makes candidate pairs quadratic in the
    * corpus (102k → 982k → 11.14M under 32/8 at sf1/sf3/sf10), so the
    * saturating defaults are no longer the silent path. Sized
    * geometry keeps ~94% of the pair mass at 4.5× less cost at sf10.
    * The one extra cost is a narrow single-column `count()` before plan
    * construction — the same runtime-statistics trade AQE makes, and
    * noise next to the LSH join it sizes. The count runs EAGERLY at
    * construction and the geometry rides the plan as a constant — a
    * snapshot; rebuild the frame to re-size after the corpus changes.
    * Passing BOTH `planes` and `bandBits` pins a fixed geometry (the
    * regression sentry / reproduce-an-old-run path); passing exactly
    * one is an error. `targetOccupancy` only applies on the adaptive
    * path.
    */
  def embedCosinePairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      dim: Int,
      planes: Int = 0,
      bandBits: Int = 0,
      minCos: Double = 0.4,
      targetOccupancy: Int = 64
  ): DataFrame = {
    require((planes == 0) == (bandBits == 0),
      s"pass BOTH planes and bandBits for a fixed geometry or NEITHER for the " +
        s"adaptive default, got planes=$planes, bandBits=$bandBits")
    if (planes == 0) {
      val (p, b) = autoGeometry(df.select(col(idCol)).count(), targetOccupancy)
      return embedCosinePairs(df, vecCol, idCol, dim, p, b, minCos)
    }
    // leftover signature bits that don't fill a whole band are dropped
    // (nBands floors), never folded into a degenerate always-equal key;
    // width bounds are enforced in signBandKeys
    require(bandBits >= 1 && bandBits <= 62, s"bandBits must be in [1, 62], got $bandBits")
    val sigs = signSigs(df, vecCol, idCol, dim, planes)
    val nBands = planes / bandBits
    val bands = signBandKeys(col("sig"), nBands, bandBits)
    // Band rows carry (sig, v, nrm) so the self-join needs NO
    // join-backs and NO distinct(): a pair that collides in k bands is
    // emitted exactly once, in its FIRST colliding band — the "no
    // earlier band also collides" test is a codegen'd integer
    // predicate on sig_a XOR sig_b evaluated inside the join loop, so
    // duplicate candidates die before materializing. The old shape
    // (candidate pairs → distinct → two signature join-backs) shuffled
    // the full candidate set: at 10× sf0.1 the 16-key band space makes
    // buckets grow linearly with the corpus and candidates
    // quadratically (46.5M pairs, 50 s); this form runs the same data
    // in 18.5 s with an identical output set.
    //
    // At real scale, size the band space to the corpus: E[bucket] =
    // n / 2^bandBits per band, so grow planes/bandBits (e.g. 64/16)
    // until buckets are bounded — collision probability per band for
    // cosine θ is (1 − θ/π)^bandBits; recall comes from adding bands,
    // not widening buckets.
    val bandRows = sigs.select(
      col(idCol), col("v"), col("nrm"), col("sig"),
      posexplode(bands).as(Seq("band_idx", "band_key")))
    // first-collision index: lowest band whose bits agree in both sigs
    // (Long modulus for the same overflow reason as signBandKeys)
    def firstCollision(x: Column): Column =
      (0 until nBands).foldRight(lit(nBands)) { (i, rest) =>
        when(shiftrightunsigned(x, i * bandBits) % (1L << bandBits) === 0L, lit(i)).otherwise(rest)
      }
    // The cosine threshold is the LAST join conjunct (not a filter():
    // predicate pushdown would prepend it to the condition, running
    // the dot product on every raw joined row instead of only
    // first-collision survivors — measured 27 s vs 18.5 s at 10×
    // sf0.1). Conjunct order is evaluation order in the generated
    // join loop; the select recomputes cos_sim for output rows only.
    val cos = dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))
    bandRows.as("a")
      .join(
        bandRows.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col(s"a.$idCol") < col(s"b.$idCol") &&
          firstCollision(col("a.sig").bitwiseXOR(col("b.sig"))) === col("a.band_idx") &&
          cos >= minCos
      )
      .select(
        col(s"a.$idCol").as("id_a"),
        col(s"b.$idCol").as("id_b"),
        cos.as("cos_sim")
      )
  }
}
