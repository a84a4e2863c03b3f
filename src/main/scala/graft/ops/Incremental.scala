package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental deduplication against a persisted corpus snapshot — the
  * recurring-crawl production shape: yesterday's corpus is represented
  * ONLY by its per-document signature table (exact digest + MinHash
  * signature, a few hundred bytes/doc); today's batch is deduplicated
  * against it with no recompute — and no storage — of the old side's
  * text.
  *
  * Plan shape, chosen for the 100 TB case:
  *   - the snapshot side contributes band keys and signatures derived
  *     from its STORED `sig` arrays (integer/string ops only — the old
  *     corpus text is never read, never shuffled);
  *   - candidates are a banded equi-join on `(band_idx, band_key)`
  *     between new-batch band rows and snapshot band rows — the same
  *     never-all-pairs LSH geometry as [[NearDup.minhashPairs]]
  *     (k=32, bands of 2);
  *   - exact duplicates are a digest semi-join; both drop sets come
  *     back to the new batch as anti-joins, broadcast-able whenever
  *     the day's duplicate count is small (the common case).
  *
  * The new batch's signature frame feeds three consumers (digest
  * check, band rows, similarity verify); persist it with
  * [[signatures]] + a parquet write when the batch itself is large —
  * the same table then becomes tomorrow's snapshot increment, so the
  * signature cost is paid once per document EVER.
  */
object Incremental {

  /** Per-document signature table `(idCol, digest, sig)`:
    * `digest` = md5 of the normalized text (the [[Dedup.exact]] key),
    * `sig` = k-component MinHash signature over hashed 3-gram
    * shingles (the [[NearDup.minhashPairs]] key material). This is the
    * frame to persist as the corpus snapshot.
    */
  def signatures(df: DataFrame, textCol: String, idCol: String, k: Int = 32): DataFrame = {
    // digest and signature are BOTH row-local since round 19 (codegen
    // MinhashSig over the shingle-hash array), so the join the
    // aggregate shape needed collapses into one narrow projection —
    // zero shuffles. The inner join semantics are preserved exactly:
    // the old sigs side dropped docs with a null text (no exploded
    // rows), which is the isNotNull filter here.
    df.select(
        col(idCol),
        md5(TextOps.normalize(col(textCol)).cast("binary")).as("digest"),
        graft.functions.MinhashSig(
          graft.functions.TextHash.shingleHashes(NearDup.tokens(col(textCol))), k).as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** New-batch rows that are neither exact nor near duplicates of the
    * snapshot corpus. `snapshot` is a [[signatures]] frame (typically
    * `spark.read.parquet(...)`); duplicates WITHIN the new batch are
    * out of scope by design — compose with
    * [[NearDup.deduplicateCorpus]] first when the batch needs
    * self-dedup.
    */
  def dedupAgainst(
      newDf: DataFrame,
      snapshot: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 32,
      bandRows: Int = 2,
      minEstSim: Double = 0.25
  ): DataFrame = {
    // The explicit repartition(id) is a REUSE POINT (round 20, the
    // minhashPairs precedent): the rowwise signature projection feeds
    // THREE consumers inside dropIds (digest semi-join, band rows,
    // sig join-back) and with no exchange of its own, each consumer
    // re-ran the md5 shingle hashing over the new batch. One narrow
    // (id, digest, sig) exchange pins the hashing to a single pass.
    // Interleaved A/B (OPTIMIZATION_r20.md): 0.92/0.62/0.57 →
    // 0.61/0.52/0.44 s at sf0.1; never worse at sf1 (1.81/1.94/3.53 →
    // 1.82/1.67/1.52). Oracle-exact (the exchange changes no values).
    val newSig = signatures(newDf, textCol, idCol, k).repartition(col(idCol))
    newDf.join(dropIds(newSig, snapshot, idCol, k, bandRows, minEstSim), Seq(idCol), "left_anti")
  }

  /** The NEXT crawl's snapshot: `snapshot ∪ signatures of the new
    * batch's survivors` — the write side of the recurring-crawl loop.
    * The old side contributes its STORED rows verbatim (never
    * re-signatured, never re-read as text — the design invariant that
    * makes the loop O(new batch) per crawl); the new side's signatures
    * are computed ONCE and serve both the dedup decision and the
    * emitted rows. Feeding the result back as the next
    * [[dedupAgainst]] `snapshot` reproduces incremental semantics
    * exactly — the two-step gate entries
    * `dedup_incremental_update`/`_step2` prove this against an oracle
    * that recomputes everything from raw text.
    */
  def updatedSnapshot(
      newDf: DataFrame,
      snapshot: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 32,
      bandRows: Int = 2,
      minEstSim: Double = 0.25
  ): DataFrame = {
    // same reuse point as dedupAgainst — here newSig has FOUR
    // consumers (the three in dropIds plus the emitted survivor rows)
    val newSig = signatures(newDf, textCol, idCol, k).repartition(col(idCol))
    val drops = dropIds(newSig, snapshot, idCol, k, bandRows, minEstSim)
    snapshot
      .select(col(idCol), col("digest"), col("sig"))
      .unionByName(newSig.join(drops, Seq(idCol), "left_anti"))
  }

  /** Ids of new-batch rows that duplicate the snapshot (exact digest
    * or banded-LSH near match) — the shared core of [[dedupAgainst]]
    * and [[updatedSnapshot]]. `newSig` is a [[signatures]] frame of
    * the new batch.
    */
  private[ops] def dropIds(
      newSig: DataFrame,
      snapshot: DataFrame,
      idCol: String,
      k: Int,
      bandRows: Int,
      minEstSim: Double
  ): DataFrame = {
    require(k % bandRows == 0, s"bandRows must divide k ($k % $bandRows != 0)")

    val exactIds = newSig
      .select(col(idCol), col("digest"))
      .join(snapshot.select(col("digest")).distinct(), Seq("digest"))
      .select(col(idCol))

    val newBands = NearDup.bandRowsOf(newSig.select(col(idCol), col("sig")), idCol, k, bandRows)
    val oldBands = NearDup
      .bandRowsOf(snapshot.select(col(idCol).as("__old_id"), col("sig")), "__old_id", k, bandRows)
    val cand = newBands
      .join(oldBands, Seq("band_idx", "band_key"))
      .select(col(idCol), col("__old_id"))
      .distinct()

    val est = NearDup.minhashEstSim(col("sig_n"), col("sig_o"), k)
    val nearIds = cand
      .join(newSig.select(col(idCol), col("sig").as("sig_n")), Seq(idCol))
      .join(snapshot.select(col(idCol).as("__old_id"), col("sig").as("sig_o")), Seq("__old_id"))
      .filter(est >= minEstSim)
      .select(col(idCol))
      .distinct()

    exactIds.union(nearIds).distinct()
  }
}
