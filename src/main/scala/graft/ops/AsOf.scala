package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (most-recent-prior) join — an operator Spark has no builtin
  * for, composed from builtins in the shape that scales.
  *
  * A naive formulation is a range join (`l.ts >= r.ts` + windowed
  * max), which Spark plans as a broadcast-nested-loop or sort-merge
  * with per-row range probing — quadratic on hot keys. This
  * implementation uses the UNION + KEYED WINDOW form instead: tag both
  * sides, union them, and run `last(value, ignoreNulls)` over a
  * per-key event-time window. One shuffle on the join key, one sort,
  * linear work, no range condition anywhere — the same plan a
  * time-series engine's ASOF JOIN lowers to (DuckDB's native
  * `ASOF JOIN` is the correctness oracle).
  *
  * Hot-key shape: a window partitioned on the key alone puts ALL rows
  * of a hot key (a handful of symbols/tenants carrying most events —
  * the usual skew at 100 TB) into one task's sort. So the fill runs in
  * TWO passes over (key, time-bucket) instead: the time axis is split
  * into `timeBuckets` equal-width ranges, pass 1 fills within each
  * (key, bucket) partition, and pass 2 carries each bucket's last
  * right-row struct forward via a per-key window over the (tiny)
  * bucket-summary frame. A hot key's sort is thereby split across up
  * to `timeBuckets` tasks while the result stays bit-identical to the
  * single-window form.
  *
  * Tie semantics: a right row at exactly the left row's timestamp
  * matches (`>=`, like DuckDB/kdb) — right rows sort before left rows
  * at equal timestamps.
  */
object AsOf {

  /** Join each left row to the most recent right row with
    * `right.tsCol <= left.tsCol` on the same `keyCols`. Left rows with
    * no prior right row keep NULL value columns (left-outer
    * semantics). `right` must carry exactly `keyCols :+ tsCol :+
    * valueCols` and be unique per (key, ts) — pre-aggregate if not.
    *
    * `timeBuckets` bounds per-task work under key skew (see class
    * doc): each key's timeline is processed in up to that many
    * parallel slices. 1 = the plain single-window form (lowest
    * constant overhead; fine when keys are well-distributed). The
    * bucket boundaries come from the right side's min/max timestamp
    * (cast to double — any numeric or timestamp type works; a
    * non-castable type degrades to one bucket, which is still
    * correct), so results never depend on partitioning.
    *
    * Output: every `left` column, plus `valueCols` from the matched
    * right row. Right rows with a NULL key or NULL timestamp match
    * nothing (ASOF joins on key equality).
    *
    * PLAN-TIME BAKE (round 19): with `timeBuckets > 1`, constructing
    * the returned DataFrame EAGERLY runs one Spark job — a 1-row
    * min/max aggregate of the right side — and bakes the bounds into
    * the bucket expression as literals (replacing two broadcast
    * nested-loop cross joins). The bounds are a snapshot: re-executing
    * the returned frame after the underlying right-side SOURCE changes
    * keeps the construction-time bucket bounds (results stay correct —
    * out-of-range timestamps clamp to the edge buckets, only the skew
    * split degrades); rebuild the frame to refresh them. Callers that
    * need a fully lazy plan can pass `timeBuckets = 1`.
    */
  def joinAsOf(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      timeBuckets: Int = 32
  ): DataFrame = {
    require(keyCols.nonEmpty, "as-of join requires at least one key column")
    require(timeBuckets >= 1, "timeBuckets must be >= 1")
    val leftCols = left.columns.toSeq
    require(
      valueCols.intersect(leftCols).isEmpty,
      s"value columns ${valueCols.intersect(leftCols).mkString(",")} collide with left columns"
    )
    val reserved = Seq("__vals", "__side", "__bucket", "__carry")
    require(
      reserved.intersect(leftCols).isEmpty,
      s"left columns ${reserved.intersect(leftCols).mkString(",")} collide with internal columns"
    )

    // All value columns ride in ONE struct so the window fill picks an
    // entire right row atomically. Filling each column independently
    // with last(ignoreNulls) would skip a matched row's NULL value in
    // favor of an older row's — and could mix values from DIFFERENT
    // right rows. A struct over right rows is never NULL (even if every
    // field is), so ignoreNulls skips only the left placeholders.
    //
    // a NULL-timestamp right row can match nothing (NULL compares false
    // in any ASOF engine) — and must not sort nulls-first into the
    // window where it would become everyone's "prior" row. The same
    // rule filters NULL-KEY right rows (round 20): the declared oracle
    // is a native ASOF JOIN on key EQUALITY, where a null key matches
    // nothing — while the keyed window would have grouped null-key
    // right rows WITH null-key left rows and filled them. Dropping
    // them aligns the null-key corner with the oracle, and it is what
    // lets the two consumers of this frame share one exchange below
    // (the carry join infers exactly these isnotnull constraints on
    // its right side; with the filter explicit on the source, both
    // consumer subtrees canonicalize equal).
    val rWithVals = keyCols
      .foldLeft(right.filter(col(tsCol).isNotNull))((df, k) => df.filter(col(k).isNotNull))
      .withColumn("__vals", struct(valueCols.map(col): _*))
    val valsType = rWithVals.schema("__vals").dataType

    // Right rows sort BEFORE left rows at the same timestamp so an
    // exact-timestamp right row is visible to that left row (>=).
    val l = left
      .withColumn("__side", lit(1))
      .withColumn("__vals", lit(null).cast(valsType))

    if (timeBuckets == 1) {
      val r1 = leftCols.filterNot(keyCols.contains).filterNot(_ == tsCol)
        .foldLeft(rWithVals.withColumn("__side", lit(0)))((df, c) =>
          df.withColumn(c, lit(null).cast(left.schema(c).dataType))
        )
      val shared = leftCols :+ "__vals" :+ "__side"
      val unioned = l.select(shared.map(col): _*)
        .unionByName(r1.select(shared.map(col): _*))
      val win = Window
        .partitionBy(keyCols.map(col): _*)
        .orderBy(col(tsCol).asc, col("__side").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val filled = unioned
        .withColumn("__vals", last(col("__vals"), ignoreNulls = true).over(win))
        .filter(col("__side") === 1)
      return extract(filled, valueCols)
    }

    // ---- bucketed two-pass fill ----------------------------------------
    // Equal-width buckets over the right side's timestamp range. The
    // mapping only needs to be monotone in ts and identical for both
    // sides; left timestamps outside the range clamp to the first/last
    // bucket. Equal timestamps always share a bucket, so concatenating
    // buckets in order reproduces the exact global (ts, __side) order.
    val tnum = col(tsCol).cast("double")
    // The bucket bounds are a 1-ROW aggregate of the right side —
    // collected at plan time (round 19) and baked as literals instead
    // of riding two broadcast cross joins (`bucketed` and `summary`
    // each paid a broadcast build). Same min/max aggregate computes
    // them, as one plan-time job; the bucket mapping is unchanged
    // value-for-value.
    val boundsRow = rWithVals.agg(
      min(col(tsCol).cast("double")).as("__tmin"),
      max(col(tsCol).cast("double")).as("__tmax")
    ).collect()(0)
    val tminLit =
      if (boundsRow.isNullAt(0)) lit(null).cast("double") else lit(boundsRow.getDouble(0))
    val tmaxLit =
      if (boundsRow.isNullAt(1)) lit(null).cast("double") else lit(boundsRow.getDouble(1))
    val span = tmaxLit - tminLit
    val bucketExpr = when(tminLit.isNull || tnum.isNull || span <= 0, lit(0L))
      .otherwise(
        least(
          lit(timeBuckets - 1L),
          greatest(lit(0L), floor((tnum - tminLit) / (span / timeBuckets)))
        )
      )

    // The right side is bucketed and hash-partitioned ONCE, and both
    // consumers — the union branch and the pass-2 carry summary —
    // read this single exchange (round 20, OPTIMIZATION_r20.md).
    // Left lazy, the right subtree was computed TWICE from source:
    // InferFiltersFromConstraints pushes an isnotnull(key) into the
    // summary branch only (the carry join's right side), so the two
    // copies never canonicalize equal and neither ReuseExchange nor
    // AQE stage reuse ever fired (finalplan: 0 ReusedQueryStage).
    // The repartition is not an added cost: the summary aggregates
    // IN PLACE on its partitioning (the (key, bucket) exchange the
    // old summary aggregate paid for itself disappears), so the
    // exchange count is unchanged and a full right-side recompute —
    // scan + filter + whatever aggregate the caller built — is
    // deleted. Measured (gate shape, right = an aggregate of events):
    // sf0.1 medians 0.77/0.59/0.58 → 0.68/0.57/0.54 s; sf1 clean
    // windows 1.87→1.59 and 1.61→1.44 s; row diff 0.
    val rBucketed = rWithVals
      .withColumn("__bucket", bucketExpr)
      .repartition((keyCols.map(col) :+ col("__bucket")): _*)
    val r = leftCols.filterNot(keyCols.contains).filterNot(_ == tsCol)
      .foldLeft(rBucketed.withColumn("__side", lit(0)))((df, c) =>
        df.withColumn(c, lit(null).cast(left.schema(c).dataType))
      )
    val shared = leftCols :+ "__vals" :+ "__side" :+ "__bucket"
    val bucketed = l.withColumn("__bucket", bucketExpr).select(shared.map(col): _*)
      .unionByName(r.select(shared.map(col): _*))

    // pass 1: fill within each (key, bucket) slice — the hot key's
    // single sort becomes `timeBuckets` parallel sorts
    val win1 = Window
      .partitionBy((keyCols :+ "__bucket").map(col): _*)
      .orderBy(col(tsCol).asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled1 = bucketed
      .withColumn("__vals", last(col("__vals"), ignoreNulls = true).over(win1))

    // pass 2: each bucket's LAST right row (max ts; unique per (key,
    // ts) by contract) is the carry-in for every later bucket up to
    // and including the next bucket that has right rows of its own.
    // All of this runs on the aggregated (key, bucket) frame — at most
    // keys × timeBuckets rows — never on the event-scale frame.
    val keyCs = keyCols.map(col)
    val summary = rBucketed
      .groupBy((keyCols :+ "__bucket").map(col): _*)
      .agg(max_by(col("__vals"), col(tsCol)).as("__carry"))
    val nextB = lead(col("__bucket"), 1)
      .over(Window.partitionBy(keyCs: _*).orderBy(col("__bucket")))
    val carries = summary
      .withColumn("__upto", coalesce(nextB, lit(timeBuckets - 1L)))
      .filter(col("__bucket") + 1 <= col("__upto"))
      .select(
        (keyCs :+
          explode(sequence(col("__bucket") + 1, col("__upto"))).as("__bucket") :+
          col("__carry")): _*
      )

    // the big frame is already hash-partitioned on (key, bucket) by
    // pass 1's window, so this equi-join reshuffles only `carries`.
    // shuffle_hash (build = carries) keeps it that way even without
    // AQE — a sort-merge plan would re-sort the event-scale side;
    // with AQE on, the tiny carries frame upgrades to a broadcast.
    val filled = filled1
      .join(carries.hint("shuffle_hash"), keyCols :+ "__bucket", "left")
      .withColumn("__vals", coalesce(col("__vals"), col("__carry")))
      .filter(col("__side") === 1)
      .drop("__bucket", "__carry")
    extract(filled, valueCols)
  }

  private def extract(filled: DataFrame, valueCols: Seq[String]): DataFrame =
    valueCols.foldLeft(filled)((df, c) =>
      df.withColumn(c, col("__vals").getField(c))
    ).drop("__vals", "__side")

  /** [[joinAsOf]] with a staleness bound: matches older than
    * `tolerance` (an interval string, e.g. "1 hour") before the left
    * timestamp are nulled out — the "quote too old, treat as missing"
    * rule of market-data as-of joins.
    */
  def joinAsOfTolerant(
      left: DataFrame,
      right: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      tolerance: String,
      timeBuckets: Int = 32
  ): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightTs = "__right_ts"
    val r = right.withColumn(rightTs, col(tsCol))
    val joined = joinAsOf(left, r, keyCols, tsCol, valueCols :+ rightTs, timeBuckets)
    val fresh = col(rightTs) >= col(tsCol) - expr(s"INTERVAL $tolerance")
    valueCols.foldLeft(joined)((df, c) =>
      df.withColumn(c, when(fresh, col(c)))
    ).drop(rightTs)
  }
}
