package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen dot product over two `array<double>` columns.
  *
  * Replaces the `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` builtin
  * composition: Spark evaluates higher-order array lambdas INTERPRETED
  * (one closure call per element), which made the interpreted fold the
  * hot path of every ANN / embedding-similarity operator. This
  * expression is a tight fused multiply-add loop inside whole-stage
  * codegen — the preference order the engine follows everywhere:
  * builtin functions, then a custom codegen `Expression`, never a UDF.
  *
  * Semantics match the builtin composition exactly so DuckDB's
  * `list_reduce` left fold stays bit-for-bit reproducible:
  *   - summation is the in-array left fold (`(((0 + p0) + p1) + ...)`,
  *     `s += a[i] * b[i]` in index order);
  *   - any null element yields NULL (like `x * y` with a null side),
  *     as does a length mismatch (`zip_with` null-pads the short side);
  *   - two empty arrays fold to 0.0.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  // Seq[DataType] narrows ExpectsInputTypes' Seq[AbstractDataType]
  // (the abstract type itself is private[sql])
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // Null is possible even with NON-null children (length mismatch /
  // null element), so nullability must not follow the children: with
  // two non-nullable inputs nullSafeCodeGen would emit a constant
  // isNull and the `isNull = true` branches below fail janino
  // compilation (silent interpreted fallback — the ArgmaxDot twin of
  // this bug was caught live at sf10).
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Intersection size of two SORTED, DISTINCT `array<long>` columns via
  * a two-pointer merge — one pass, zero allocation.
  *
  * Replaces `size(array_intersect(a, b))` (and, via
  * `|A∪B| = |A| + |B| − |A∩B|`, the `array_union` twin) on the
  * near-dup rescoring path: the builtin pair builds a hash set and an
  * output array per evaluation, measured as ~70% of dedup_ngram's
  * wall-time at sf1 (4.3 s of 6.3 s over 824k candidate pairs).
  * PRECONDITION: both arrays ascending-sorted with distinct elements —
  * exactly what [[graft.ops.NearDup.cappedShingleSketch]] produces
  * (`array_distinct` → `array_sort`). Unsorted input silently
  * undercounts; keep this expression on sketch arrays only.
  */
case class SortedIntersectSize(left: Expression, right: Expression)
    extends BinaryExpression
    with ExpectsInputTypes {

  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_sorted_intersect_size"

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedIntersectSize.compute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedIntersectSize.compute($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedIntersectSize {
  /** Two-pointer merge count. Called from generated code. */
  def compute(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }
}

object ArrayMath {

  /** Left-fold dot product of two `array<double>` columns (codegen). */
  def dotProduct(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Intersection size of two sorted distinct `array<long>`s (codegen). */
  def sortedIntersectSize(a: Column, b: Column): Column =
    Bridge.column(SortedIntersectSize(Bridge.expression(a), Bridge.expression(b)))
}
