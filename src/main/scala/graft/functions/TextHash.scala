package graft.functions

import java.security.MessageDigest

import org.apache.spark.QueryContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, SupportQueryContext, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MathUtils}
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** Native codegen hashed word-n-gram shingles over a token array.
  *
  * Replaces the explode → per-token md5 projection → doc-keyed window
  * (`lead` ×2) pipeline that every shingle consumer (MinHash, n-gram
  * Jaccard, decontamination) used for candidate generation: the window
  * form pays a full shuffle + sort of the exploded token stream — at
  * sf1 that is ~5M rows through an Exchange before any signature work
  * starts. This expression computes the identical shingle-hash ARRAY
  * inside whole-stage codegen (one tight loop per row, one md5 per
  * token), so the first shuffle in the pipeline is the already-partial
  * per-doc aggregation that follows.
  *
  * Bit-for-bit parity with the window form and the DuckDB oracle
  * (see SparkEntry.sqlHashedShingleCtes):
  *   - per-token hash: first 8 md5 hex digits of the UTF-8 token as a
  *     long (= unsigned big-endian first 4 digest bytes), mod P;
  *   - shingle combine at the default n=3:
  *     `(h(i)·C1 + h(i+1)·C2 + h(i+2)) mod P` — all inputs < P =
  *     2^31−1 so the sum stays < 2^62, no overflow. Wider n (the
  *     GPT-3/PaLM decontamination procedure uses 8–13-gram windows)
  *     combines by Horner's rule, `acc ← (acc·C1 + h(i+o)) mod P` —
  *     acc < P and C1 < 2^20 keep every step < 2^52. n=3 keeps its
  *     legacy two-multiplier form so existing gates/goldens stay
  *     bit-identical;
  *   - arrays shorter than n tokens hash the whole text (tokens joined
  *     by one space), yielding a single-element array;
  *   - a null token array yields NULL (DuckDB's NULL list propagates
  *     the same way; `explode` then drops the row).
  *
  * PRECONDITION: token arrays must not contain null elements — the
  * expected input type is effectively
  * `ArrayType(StringType, containsNull = false)`, which every caller
  * satisfies by construction (`NearDup.tokens` is a `split()`, whose
  * output never holds nulls). A null element would hash as 0L in the
  * n-gram path but as an EMPTY string inside the short-array
  * whole-text join (where `concat_ws` would skip it) — a silent
  * divergence from the oracle's semantics, so it is not supported
  * rather than half-defined.
  */
case class ShingleHashes(child: Expression, n: Int = 3)
    extends UnaryExpression
    with ExpectsInputTypes {

  require(n >= 1, s"shingle width must be positive, got $n")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_shingle_hashes"

  override def nullSafeEval(a: Any): Any =
    ShingleHashes.compute(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // One static call per row: the md5-per-token loop dominates, so a
    // JVM method call (vs fully inlined codegen) costs nothing while
    // keeping the expression inside the whole-stage-codegen pipeline.
    defineCodeGen(ctx, ev, c => s"graft.functions.ShingleHashes.compute($c, $n)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  private val P = 2147483647L
  private val C1 = 1000003L
  private val C2 = 10007L

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 8 md5 hex digits of the bytes as a long, mod P. */
  private def hash32(bytes: Array[Byte]): Long = {
    val d = digest.get().digest(bytes)
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    u % P
  }

  /** Shingle-hash array of a token array (see class doc for the
    * contract). Called from generated code — must stay public.
    */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) {
      // whole-text shingle: tokens joined by one space (same string
      // concat_ws(" ", w) builds), hashed once
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < len) {
        if (i > 0) sb.append(' ')
        val t = tokens.getUTF8String(i)
        if (t != null) sb.append(t.toString)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(Array(hash32(sb.toString.getBytes("UTF-8"))))
    } else {
      val hw = new Array[Long](len)
      var i = 0
      while (i < len) {
        val t = tokens.getUTF8String(i)
        hw(i) = if (t == null) 0L else hash32(t.getBytes)
        i += 1
      }
      val out = new Array[Long](len - (n - 1))
      i = 0
      if (n == 3) {
        // legacy three-term combine — bit-identical to every recorded
        // gate/golden since round 4
        while (i < out.length) {
          out(i) = (hw(i) * C1 + hw(i + 1) * C2 + hw(i + 2)) % P
          i += 1
        }
      } else {
        // Horner's rule: acc < P, C1 < 2^20 ⇒ acc·C1 + h < 2^52
        while (i < out.length) {
          var acc = hw(i)
          var o = 1
          while (o < n) {
            acc = (acc * C1 + hw(i + o)) % P
            o += 1
          }
          out(i) = acc
          i += 1
        }
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    }
  }
}

/** Native codegen SimHash signature over a token array: bit `i` of
  * the [[graft.ops.NearDup.SimBits]]-bit result is the sign of
  * `Σ_tokens (2·bit_i(h60(token)) − 1)` — the whole signature in ONE
  * tight loop per row (one md5 per token, 60 integer counters).
  *
  * Replaces the explode → per-token `hash60` projection → groupBy
  * with 60 conditional-sum aggregates shape (round 19): the per-bit
  * ±1 sums are INTEGER and commutative, so no accumulation-order
  * hazard exists (unlike grouped double sums), and fusing them
  * row-locally deletes the exploded token stream, the 60-buffer hash
  * aggregate, and the signature exchange outright — the only shuffle
  * left in `simhashPairs` is the banded self-join. Measured at sf0.1:
  * the signature stage was 0.76 s of the operator's 1.07 s.
  *
  * Bit-for-bit parity with the aggregate form (and the DuckDB
  * oracle / SQL-text backend, which keep the aggregate spelling):
  *   - per-token hash = first 15 md5 hex digits of the UTF-8 token as
  *     a long (= the unsigned big-endian first 8 digest bytes >>> 4);
  *   - bit i contributes +1 when `h & (1 << i)` is set, −1 otherwise;
  *     bit i of the signature is set when the sum is > 0;
  *   - a null OR EMPTY token array yields NULL — exactly the docs the
  *     explode form dropped before the aggregate (callers filter the
  *     nulls to reproduce the old frame row-for-row).
  * PRECONDITION (as [[ShingleHashes]]): no null token elements —
  * `NearDup.tokens` is a `split()`, which never produces them.
  */
case class SimhashSig(child: Expression)
    extends UnaryExpression
    with ExpectsInputTypes {

  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  // null on an EMPTY array even with a non-null child — the constant
  // isNull janino hazard (see DotProduct)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_simhash_sig"

  override def nullSafeEval(a: Any): Any =
    SimhashSig.compute(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("sig")
      s"""
         |final Long $s = graft.functions.SimhashSig.compute($c);
         |if ($s == null) { ${ev.isNull} = true; } else { ${ev.value} = $s.longValue(); }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimhashSig {
  private val Bits = 60

  private val digest = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** Packed signature, or null for an empty array (the explode form
    * produced no rows for it). Called from generated code — the boxed
    * return carries the null.
    */
  def compute(tokens: ArrayData): java.lang.Long = {
    val len = tokens.numElements()
    if (len == 0) return null
    val counts = new Array[Int](Bits)
    var i = 0
    while (i < len) {
      val t = tokens.getUTF8String(i)
      val d = digest.get().digest(if (t == null) Array.emptyByteArray else t.getBytes)
      // first 15 hex digits = unsigned big-endian first 8 bytes >>> 4
      val u = ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) | ((d(2) & 0xffL) << 40) |
        ((d(3) & 0xffL) << 32) | ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
      val h = u >>> 4
      var b = 0
      while (b < Bits) {
        counts(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < Bits) {
      if (counts(b) > 0) sig |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  /** Column-side entry point. */
  def apply(tokens: Column): Column =
    Bridge.column(SimhashSig(Bridge.expression(tokens)))
}

/** Native codegen MinHash signature over a hashed-shingle array: the
  * k permutation minima `min_h((a_j·h + b_j) mod P)` in ONE fused
  * loop per row.
  *
  * Replaces the explode → groupBy with k primitive `min` aggregates
  * shape (round 19): `min` over mod-P longs is integer and
  * commutative — no accumulation-order hazard — so the whole
  * signature fuses row-locally on top of [[ShingleHashes]]' array,
  * deleting the exploded shingle stream, the k-buffer aggregate, and
  * the signature exchange from every MinHash consumer. (The row-wise
  * STREAMING form, `NearDup.rowBandRows`, had always computed this
  * shape but through interpreted `transform` lambdas — this is the
  * codegen twin.)
  *
  * Parity: `a_j = (1103515245·(j+1) + 12345) mod P`,
  * `b_j = (987654321·(j+1) + 67890) mod P` — exactly
  * `NearDup.perm(j)`; inputs are mod-P residues so `a·h + b < 2^62`
  * never overflows. A null or EMPTY hash array yields NULL — the rows
  * the explode form dropped before the aggregate (callers filter).
  */
case class MinhashSig(child: Expression, k: Int)
    extends UnaryExpression
    with ExpectsInputTypes {

  require(k >= 1, s"signature width must be positive, got $k")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  // null on an EMPTY array even with a non-null child — the constant
  // isNull janino hazard (see DotProduct)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(a: Any): Any =
    MinhashSig.compute(a.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("sig")
      s"""
         |final ArrayData $s = graft.functions.MinhashSig.compute($c, $k);
         |if ($s == null) { ${ev.isNull} = true; } else { ${ev.value} = $s; }
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashSig {
  private val P = 2147483647L

  /** Signature array, or null for a null/empty input (the explode
    * form produced no rows for it). Called from generated code.
    */
  def compute(hashes: ArrayData, k: Int): ArrayData = {
    val n = hashes.numElements()
    if (n == 0) return null
    val sig = new Array[Long](k)
    var j = 0
    while (j < k) {
      val a = (1103515245L * (j + 1) + 12345L) % P
      val b = (987654321L * (j + 1) + 67890L) % P
      var m = Long.MaxValue
      var i = 0
      while (i < n) {
        val v = (a * hashes.getLong(i) + b) % P
        if (v < m) m = v
        i += 1
      }
      sig(j) = m
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Column-side entry point. */
  def apply(hashes: Column, k: Int): Column =
    Bridge.column(MinhashSig(Bridge.expression(hashes), k))
}

/** `element_at(arr, i + 1)` over a signature array: absent (SQL NULL)
  * for a null array, a null element, or — when `failOnError` is off —
  * an index past the end; with `failOnError` on, an index past the end
  * raises `element_at`'s own error. The compact MinHash expressions
  * below read every component through it, in the order the equivalent
  * `element_at` Column expressions evaluate them.
  */
private object SigComponent {

  def absent(arr: ArrayData, i: Int, failOnError: Boolean, ctx: QueryContext): Boolean =
    if (arr == null) true
    else if (i >= arr.numElements()) {
      if (failOnError) throw Bridge.invalidElementAtIndexError(i + 1, arr.numElements(), ctx)
      true
    } else arr.isNullAt(i)

  /** `element_at(a, i + 1) === element_at(b, i + 1)`: 1 true, 0 false,
    * −1 NULL. `b` is read only when `a`'s component is present, as
    * `EqualTo` evaluates its right side.
    */
  def equal(a: ArrayData, b: ArrayData, i: Int, failOnError: Boolean, ctx: QueryContext): Int =
    if (absent(a, i, failOnError, ctx) || absent(b, i, failOnError, ctx)) -1
    else if (a.getLong(i) == b.getLong(i)) 1
    else 0
}

/** Number of matching components `Σ_{i<k} [a[i] = b[i]]` of two MinHash
  * signatures in one loop per row — the count behind
  * `NearDup.minhashEstSim`. A component matches only when both sides
  * hold it and the longs are equal: a null array, a null element, or
  * (ANSI off) a component past the end never matches; with ANSI on, a
  * component past the end raises `element_at`'s error. `failOnError`
  * is captured when the expression is built, as `ElementAt` does.
  */
case class MinhashMatches(
    left: Expression,
    right: Expression,
    k: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression
    with ExpectsInputTypes
    with SupportQueryContext {

  require(k >= 1, s"signature width must be positive, got $k")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_matches"
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql}, $k)"

  override def initQueryContext(): Option[QueryContext] =
    if (failOnError) Some(origin.context) else None

  override def eval(input: InternalRow): Any =
    MinhashMatches.count(
      left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData],
      k, failOnError, getContextOrNull())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |final int ${ev.value} = graft.functions.MinhashMatches.count(
      |  ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value},
      |  $k, $failOnError, ${getContextOrNullCode(ctx, failOnError)});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinhashMatches {

  /** Called from generated code — must stay public. */
  def count(a: ArrayData, b: ArrayData, k: Int, failOnError: Boolean, ctx: QueryContext): Int = {
    var m = 0
    var i = 0
    while (i < k) {
      if (SigComponent.equal(a, b, i, failOnError, ctx) == 1) m += 1
      i += 1
    }
    m
  }

  /** Column-side entry point; `failOnError` follows the session's ANSI mode. */
  def apply(a: Column, b: Column, k: Int): Column =
    Bridge.column(MinhashMatches(Bridge.expression(a), Bridge.expression(b), k))
}

/** LSH band keys of a MinHash signature in one loop per row: key j of
  * `nBands` covers components `[j·bandRows, (j+1)·bandRows)`, for
  * bandRows 1 (`sig[j]`) and 2 (the exact pack `sig[2j]·P + sig[2j+1]`,
  * `P` = 2^31 − 1). A key is NULL when a component it reads is absent
  * ([[SigComponent]]); a null signature gives `nBands` NULL keys, as
  * an `array(...)` of `element_at`s does. With ANSI on, a component
  * past the end raises `element_at`'s error and a pack that leaves the
  * long range raises the ANSI `*`/`+` overflow error; with ANSI off it
  * wraps. The array is unboxed when it holds no NULL.
  */
case class MinhashBandKeys(
    child: Expression,
    nBands: Int,
    bandRows: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends UnaryExpression
    with ExpectsInputTypes
    with SupportQueryContext {

  require(nBands >= 1, s"band count must be positive, got $nBands")
  require(bandRows == 1 || bandRows == 2, s"packed band keys cover 1 or 2 components, got $bandRows")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_band_keys"
  override def sql: String = s"$prettyName(${child.sql}, $nBands, $bandRows)"

  override def initQueryContext(): Option[QueryContext] =
    if (failOnError) Some(origin.context) else None

  override def eval(input: InternalRow): Any =
    MinhashBandKeys.compute(
      child.eval(input).asInstanceOf[ArrayData], nBands, bandRows, failOnError, getContextOrNull())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val s = child.genCode(ctx)
    ev.copy(code = code"""
      |${s.code}
      |final ArrayData ${ev.value} = graft.functions.MinhashBandKeys.compute(
      |  ${s.isNull} ? null : ${s.value}, $nBands, $bandRows, $failOnError,
      |  ${getContextOrNullCode(ctx, failOnError)});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinhashBandKeys {
  private val P = 2147483647L

  /** Called from generated code — must stay public. */
  def compute(sig: ArrayData, nBands: Int, bandRows: Int, failOnError: Boolean,
      ctx: QueryContext): ArrayData = {
    val keys = new Array[Long](nBands)
    var isNull: Array[Boolean] = null
    var j = 0
    while (j < nBands) {
      val c = j * bandRows
      // `element_at(sig, c + 1) * P + element_at(sig, c + 2)` order: the
      // second component is read only when the first is present, after
      // the multiply
      val present =
        if (SigComponent.absent(sig, c, failOnError, ctx)) false
        else if (bandRows == 1) { keys(j) = sig.getLong(c); true }
        else {
          val hi = sig.getLong(c)
          val scaled = if (failOnError) MathUtils.multiplyExact(hi, P, ctx) else hi * P
          if (SigComponent.absent(sig, c + 1, failOnError, ctx)) false
          else {
            val lo = sig.getLong(c + 1)
            keys(j) = if (failOnError) MathUtils.addExact(scaled, lo, ctx) else scaled + lo
            true
          }
        }
      if (!present) {
        if (isNull == null) isNull = new Array[Boolean](nBands)
        isNull(j) = true
      }
      j += 1
    }
    if (isNull == null) UnsafeArrayData.fromPrimitiveArray(keys)
    else new GenericArrayData(Array.tabulate[Any](nBands)(j => if (isNull(j)) null else keys(j)))
  }

  /** Column-side entry point; `failOnError` follows the session's ANSI mode. */
  def apply(sig: Column, nBands: Int, bandRows: Int): Column =
    Bridge.column(MinhashBandKeys(Bridge.expression(sig), nBands, bandRows))
}

/** Index of the FIRST of `nBands` bands (of `bandRows` components each)
  * whose components all match ([[SigComponent.equal]]) between two
  * signatures, `nBands` when none does — in one loop per row. Within a
  * band the components are read in order and the first mismatch ends
  * the band, as a left-deep `&&` chain of component equalities does;
  * reads past the end follow [[SigComponent]].
  */
case class MinhashFirstBand(
    left: Expression,
    right: Expression,
    nBands: Int,
    bandRows: Int,
    failOnError: Boolean = SQLConf.get.ansiEnabled)
    extends BinaryExpression
    with ExpectsInputTypes
    with SupportQueryContext {

  require(nBands >= 1 && bandRows >= 1, s"bands must be positive, got $nBands × $bandRows")

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_minhash_first_band"
  override def sql: String = s"$prettyName(${left.sql}, ${right.sql}, $nBands, $bandRows)"

  override def initQueryContext(): Option[QueryContext] =
    if (failOnError) Some(origin.context) else None

  override def eval(input: InternalRow): Any =
    MinhashFirstBand.first(
      left.eval(input).asInstanceOf[ArrayData], right.eval(input).asInstanceOf[ArrayData],
      nBands, bandRows, failOnError, getContextOrNull())

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val a = left.genCode(ctx)
    val b = right.genCode(ctx)
    ev.copy(code = code"""
      |${a.code}
      |${b.code}
      |final int ${ev.value} = graft.functions.MinhashFirstBand.first(
      |  ${a.isNull} ? null : ${a.value}, ${b.isNull} ? null : ${b.value},
      |  $nBands, $bandRows, $failOnError, ${getContextOrNullCode(ctx, failOnError)});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MinhashFirstBand {

  /** Called from generated code — must stay public. */
  def first(a: ArrayData, b: ArrayData, nBands: Int, bandRows: Int, failOnError: Boolean,
      ctx: QueryContext): Int = {
    var i = 0
    while (i < nBands) {
      var matched = true
      var o = 0
      while (o < bandRows) {
        val e = SigComponent.equal(a, b, i * bandRows + o, failOnError, ctx)
        if (e == 0) { matched = false; o = bandRows }
        else {
          if (e < 0) matched = false
          o += 1
        }
      }
      if (matched) return i
      i += 1
    }
    nBands
  }

  /** Column-side entry point; `failOnError` follows the session's ANSI mode. */
  def apply(a: Column, b: Column, nBands: Int, bandRows: Int): Column =
    Bridge.column(MinhashFirstBand(Bridge.expression(a), Bridge.expression(b), nBands, bandRows))
}

object TextHash {

  /** Hashed word-n-gram shingle array of a token array (codegen). */
  def shingleHashes(tokens: Column, n: Int = 3): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokens), n))
}
