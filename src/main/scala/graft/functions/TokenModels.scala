package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Hashed-bucket classifier accumulation over a token array against a
  * PLAN-TIME weight vector: `[Σ w(bucket(token)), n_tokens]` in ONE
  * fused loop per row.
  *
  * Replaces [[graft.ops.TextOps.classifierScoreBaked]]'s explode →
  * per-token weight lookup → groupBy(sum, count) → left-join-back
  * shape (round 19): both accumulators are INTEGER (the model rides
  * 2^30-scaled longs precisely so its math is order-free), so the
  * whole per-document reduction fuses row-locally — deleting the
  * exploded token stream, the aggregate exchange, and the
  * row-restoring join outright.
  *
  * Parity with the aggregate form (and the DuckDB oracle, which keeps
  * the join spelling):
  *   - tokens of length 0 are skipped (the `length(tok) > 0` filter);
  *   - bucket = (first 8 md5 hex digits of the UTF-8 token as a long)
  *     mod nBuckets — `pmod(NearDup.hash32(tok), nBuckets)` exactly
  *     (the hash is non-negative, so pmod = %);
  *   - a null token array yields NULL (the explode form produced no
  *     rows — callers coalesce to the zero-token case);
  *   - an array with no non-empty tokens yields `[0, 0]`, exactly the
  *     all-rows-filtered case the old left join nulled out (`n_tok`
  *     coalesced to 0; `acc` is unused at `n_tok = 0`).
  */
case class ClassifierAcc(child: Expression, weights: Array[Long])
    extends UnaryExpression
    with ExpectsInputTypes {

  require(weights.length >= 2, s"need >= 2 weights, got ${weights.length}")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_classifier_acc"

  override def nullSafeEval(a: Any): Any =
    ClassifierAcc.compute(a.asInstanceOf[ArrayData], weights)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("classifierWeights", weights, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.ClassifierAcc.compute($c, $wRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ClassifierAcc {

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** `[acc, n_tok]` over the non-empty tokens. Called from generated
    * code.
    */
  def compute(tokens: ArrayData, weights: Array[Long]): ArrayData = {
    val n = tokens.numElements()
    val nBuckets = weights.length
    var acc = 0L
    var nTok = 0L
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        val d = digest.get().digest(t.getBytes)
        val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
          ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        acc += weights((u % nBuckets).toInt)
        nTok += 1L
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(acc, nTok))
  }

  /** Column-side entry point. */
  def apply(tokens: Column, weights: Array[Long]): Column =
    Bridge.column(ClassifierAcc(Bridge.expression(tokens), weights))
}

/** Bigram-coverage statistics over a token array against a PLAN-TIME
  * top-K bigram model: `[n_bigrams, n_hits, model_mass]` in ONE fused
  * loop per row.
  *
  * Replaces [[graft.ops.TextOps.lmScore]]'s corpus-side explode →
  * broadcast model join → groupBy → row-restoring left join (round
  * 19): the model is AT MOST topK rows by construction (the
  * `TakeOrderedAndProject` cut), i.e. a bounded plan-time constant
  * like the IVF centroid matrix, and all three statistics are integer
  * counts — so the whole scoring pass fuses row-locally and the
  * operator's plan drops from two joins + two exchanges to one
  * codegen projection.
  *
  * Parity with the join form (and the DuckDB oracle, which keeps it):
  *   - documents with fewer than 2 tokens yield `[0, 0, 0]` (the
  *     `size(tokens) >= 2` pre-filter kept them out of scoring; the
  *     final projection coalesced their stats to 0);
  *   - bigram hashes are [[ShingleHashes]] at n=2 — identical values;
  *   - `n_hits` counts occurrences WITH multiplicity, `model_mass`
  *     sums the model count per occurrence (the left-join semantics);
  *   - a null token array yields NULL (callers coalesce to zeros).
  * `modelHashes` must be ascending-sorted (binary-searched here);
  * `modelCnts` is positionally parallel.
  */
case class LmBigramStats(
    child: Expression,
    modelHashes: Array[Long],
    modelCnts: Array[Long])
    extends UnaryExpression
    with ExpectsInputTypes {

  require(modelHashes.length == modelCnts.length,
    s"model arrays must be parallel: ${modelHashes.length} vs ${modelCnts.length}")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_lm_bigram_stats"

  override def nullSafeEval(a: Any): Any =
    LmBigramStats.compute(a.asInstanceOf[ArrayData], modelHashes, modelCnts)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val hRef = ctx.addReferenceObj("lmModelHashes", modelHashes, "long[]")
    val cRef = ctx.addReferenceObj("lmModelCnts", modelCnts, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.LmBigramStats.compute($c, $hRef, $cRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LmBigramStats {

  /** `[n_bigrams, n_hits, model_mass]`. Called from generated code. */
  def compute(tokens: ArrayData, mh: Array[Long], mc: Array[Long]): ArrayData = {
    if (tokens.numElements() < 2)
      return UnsafeArrayData.fromPrimitiveArray(Array(0L, 0L, 0L))
    val hs = ShingleHashes.compute(tokens, 2)
    val n = hs.numElements()
    var hits = 0L
    var mass = 0L
    var i = 0
    while (i < n) {
      val idx = java.util.Arrays.binarySearch(mh, hs.getLong(i))
      if (idx >= 0) { hits += 1L; mass += mc(idx) }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(Array(n.toLong, hits, mass))
  }

  /** Column-side entry point. */
  def apply(tokens: Column, modelHashes: Array[Long], modelCnts: Array[Long]): Column =
    Bridge.column(LmBigramStats(Bridge.expression(tokens), modelHashes, modelCnts))
}
