package graft.ops

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftglue.Bridge
import org.apache.spark.sql.types._

/** The one place a plan-time bake collects.
  *
  * BAKE CONTRACT (every op that links here). Some ops need a small
  * model of their input before they can build their plan: seed
  * centroids and Lloyd means ([[Kmeans]]), the corpus count and hash
  * seeds of the adaptive IVF and SemDeDup indexes ([[Ann]],
  * [[SemDedup]]), the largest stratum ([[Sampling.tokenBudgetAuto]]),
  * the eval shingle set ([[Decontam]]) and the cluster labels of the
  * pair graph ([[NearDup.clusters]]). Constructing such a frame runs
  * Spark jobs eagerly and bakes the model into the returned plan as
  * literals. The model is a snapshot: re-executing the frame after its
  * source changes reuses it; rebuild the frame to refit.
  *
  * Each op first tries the DRIVER FINISH: [[collect]] runs one bounded
  * collect of the op's input projection, and the op computes its whole
  * model from those rows on the driver, with the same arithmetic its
  * distributed form runs in Spark. Every baked literal is therefore the
  * same on both paths, and with it every plan and every row. When the
  * collect declines (`None`: over the cap, or a key type whose order
  * and equality the driver cannot reproduce), or when the driver could
  * not reproduce the op's arithmetic bit for bit (the op says when),
  * the op's distributed form runs unchanged. This is the choice by
  * runtime statistics of Shark's partial DAG execution.
  *
  * The cap comes from the session, so no knob is added: `T` =
  * `spark.sql.autoBroadcastJoinThreshold`, the bytes the session
  * already agrees to ship to every executor; `T ≤ 0` disables the
  * driver finish. The collect runs when the rows' total WEIGHT is at
  * most `T`. A row weighs the Catalyst default sizes of its columns,
  * as Spark's size estimates count them, except that a top-level array
  * column weighs its element size once per element (`defaultSize`
  * counts an array as one element, so a 64-dim vector would weigh 1/64
  * of its payload). For fixed-width frames (pair-graph edges, shingle
  * pairs, strata keys) that is a row cap of `T / w` rows, `w` the sum
  * of the default sizes; for vector frames it is their real payload.
  *
  * The weight is measured on the executors, as the rows stream out of
  * the plan, so it holds for vectors computed in the pipeline, whose
  * size no estimate knows. The collect is Spark's incremental take with
  * a weight budget in place of a row count: it scans one partition,
  * then 4× as many as it scanned, and so on, and each partition stops
  * at the first row that overdraws what is left of `T`. Frames with an
  * array column are first also gated on Catalyst's estimate of the
  * projection (`optimizedPlan.stats.sizeInBytes ≤ T`, the statistic
  * Spark's own broadcast choice reads), which declines an input that is
  * already known to be too large with zero jobs. Fixed-width frames
  * skip that gate: their estimates are join and explode products that
  * say nothing about the real row count.
  *
  * Worst case, at the 10 MB default: the kept rows weigh at most `T`,
  * which is 655,360 `(long, long)` edges, or 10 MB of vector components
  * as stored. Rows reach the driver as compact `UnsafeRow`s, a few words
  * each beyond their weight; ops box only what they keep (the seeds,
  * the labels), and [[hashedVectors]] widens float vectors to unboxed
  * doubles, which doubles their driver footprint.
  * String keys add what they hold beyond their 20-byte default size.
  * A declined collect has shipped at most what is left of `T` plus one
  * row from each partition of its last round, as Spark's own take does
  * with its row count. Driver-side compute is bounded too: sorts are
  * `n log n` over the kept rows, and Lloyd updates stop at
  * [[Kmeans.MaxDriverLloydWork]].
  *
  * Jobs: one when the input scans as one partition, and one more per
  * 4× round otherwise, also when the collect declines. Each op's
  * scaladoc gives its driver and distributed job counts.
  */
object PlanTimeModel {

  /** The name under which the collect's SQL execution reports to the
    * session's query-execution listeners.
    */
  private[graft] val ExecutionName = "planTimeModel"

  /** The rows of a [[collect]] in Catalyst's form: strings as UTF-8
    * bytes, arrays as `ArrayData`, nothing boxed. `keyOrder` is
    * Catalyst's order for the key column's values (UTF-8 byte order for
    * strings, NOT Java's UTF-16 `String.compareTo`); for the eligible
    * key types, equal values are also `equals` and hash alike.
    */
  private[graft] final case class Collected(rows: Array[InternalRow], schema: StructType, keyOrder: Ordering[Any]) {

    /** Column `i` of `r` in Catalyst's form, or null. */
    def value(r: InternalRow, i: Int): Any = if (r.isNullAt(i)) null else r.get(i, schema(i).dataType)
  }

  /** All rows of `frame` when they fit the session's cap (see the
    * object doc), with the order of its column `key`; else `None`.
    * Only integral and plain (UTF8_BINARY) string keys are eligible:
    * for them the driver's order and value equality agree with Spark's
    * sorts, joins, groupings and `distinct`. Collated strings compare by
    * their collation's rules, and floating keys normalize `-0.0` and
    * NaN. Runs no job when it declines for the key type, a disabled
    * threshold or the size estimate.
    */
  private[graft] def collect(frame: DataFrame, key: Int): Option[Collected] = {
    val schema = frame.schema
    val keyOrder = schema(key).dataType match {
      case dt @ (ByteType | ShortType | IntegerType | LongType | StringType) => TypeUtils.getInterpretedOrdering(dt)
      case _ => return None
    }
    val threshold = Bridge.autoBroadcastJoinThreshold(frame.sparkSession)
    if (threshold <= 0) return None
    val qe = frame.queryExecution
    if (schema.fields.exists(f => hasArray(f.dataType)) && qe.optimizedPlan.stats.sizeInBytes > threshold)
      return None
    SQLExecution.withNewExecutionId(qe, Some(ExecutionName)) {
      val rdd = qe.toRdd
      val parts = rdd.partitions.length
      val rows = ArrayBuffer.empty[InternalRow]
      var left = threshold
      var scanned = 0
      while (left >= 0 && scanned < parts) {
        val round = scanned until math.min(parts.toLong, scanned + math.max(1L, 4L * scanned)).toInt
        val budget = left
        for ((taken, weight) <- frame.sparkSession.sparkContext.runJob(
            rdd, (it: Iterator[InternalRow]) => takeWithin(it, schema, budget), round)) {
          rows ++= taken
          left -= weight
        }
        scanned = round.end
      }
      if (left < 0) None else Some(Collected(rows.toArray, schema, keyOrder))
    }
  }

  /** One partition's share of [[collect]]: copies of its rows while
    * their weight stays within `budget` (the row that overdraws it
    * included, so the driver sees the overdraft), and their weight.
    */
  private def takeWithin(it: Iterator[InternalRow], schema: StructType, budget: Long): (Array[InternalRow], Long) = {
    // a plan's rows are UnsafeRows as a rule; projecting them anyway
    // would generate one more class per collected schema
    lazy val toUnsafe = UnsafeProjection.create(schema)
    val fixed = math.max(1L, schema.fields.map(_.dataType.defaultSize.toLong).sum)
    val arrays = schema.fields.indices.filter(i => schema(i).dataType.isInstanceOf[ArrayType]).toArray
    val elemSize = arrays.map(i => schema(i).dataType.defaultSize.toLong)
    val out = ArrayBuffer.empty[InternalRow]
    var weight = 0L
    while (weight <= budget && it.hasNext) {
      val r = it.next()
      weight += fixed
      var a = 0
      while (a < arrays.length) {
        if (!r.isNullAt(arrays(a)))
          weight += elemSize(a) * math.max(0, r.getArray(arrays(a)).numElements() - 1)
        a += 1
      }
      out += (r match {
        case u: UnsafeRow => u.copy()
        case _ => toUnsafe(r).copy()
      })
    }
    (out.toArray, weight)
  }

  private def hasArray(dt: DataType): Boolean = dt match {
    case _: ArrayType | _: MapType => true
    case s: StructType => s.fields.exists(f => hasArray(f.dataType))
    case _ => false
  }

  /** The collect of the hash-seeded vector models ([[Kmeans]], and the
    * seeding of [[Ann]] and [[SemDedup]]): `(v, hash32(id), id)` over
    * `df`, with each row's vector read as the `array<double>` that
    * `cast(vecCol as array<double>)` gives in Spark (null
    * for a null vector). Float and double vectors are collected as
    * stored, because widening a float is exact and is what Spark's cast
    * does, so a float vector weighs half as much as its cast; other
    * element types are cast in the plan.
    */
  private[graft] def hashedVectors(df: DataFrame, vecCol: String, idCol: String): Option[(Collected, Array[ArrayData])] = {
    val stored = col(vecCol)
    val (v, widen) = df.select(stored).schema.head.dataType match {
      case ArrayType(FloatType, _) => (stored, true)
      case ArrayType(DoubleType, _) => (stored, false)
      case _ => (NearDup.doubles(stored), false)
    }
    collect(df.select(v.as("v"), NearDup.hash32(col(idCol).cast("string")).as("h"), col(idCol)), key = 2)
      .map(c => (c, c.rows.map(r => if (r.isNullAt(0)) null else if (widen) doubles(r.getArray(0)) else r.getArray(0))))
  }

  /** A float vector widened to doubles, unboxed unless it has a null. */
  private def doubles(a: ArrayData): ArrayData = {
    val n = a.numElements()
    if ((0 until n).exists(a.isNullAt))
      new GenericArrayData(Array.tabulate[Any](n)(j => if (a.isNullAt(j)) null else a.getFloat(j).toDouble))
    else UnsafeArrayData.fromPrimitiveArray(Array.tabulate(n)(j => a.getFloat(j).toDouble))
  }

  /** The indices of the first `n` collected rows in Spark's
    * `ORDER BY h, id` (ascending, nulls first), where column 1 is a
    * `long` hash `h` and column 2 the key id — the hash seeding of
    * [[Ann]] and [[Kmeans]] on the driver. Rows that tie on both keys
    * keep their collected order; Spark's order among such rows is
    * unspecified too.
    */
  private[graft] def hashSeeds(c: Collected, n: Int): Array[Int] = {
    val rows = c.rows
    val ids = rows.map(c.value(_, 2))
    def cmpNullsFirst(aNull: Boolean, bNull: Boolean)(cmp: => Int): Int =
      if (aNull) (if (bNull) 0 else -1) else if (bNull) 1 else cmp
    val byKey = Array.range(0, rows.length).sortWith { (a, b) =>
      val ra = rows(a)
      val rb = rows(b)
      val h = cmpNullsFirst(ra.isNullAt(1), rb.isNullAt(1))(java.lang.Long.compare(ra.getLong(1), rb.getLong(1)))
      (if (h != 0) h else cmpNullsFirst(ids(a) == null, ids(b) == null)(c.keyOrder.compare(ids(a), ids(b)))) < 0
    }
    byKey.take(n)
  }
}
