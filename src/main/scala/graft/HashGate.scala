package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Dump-free at-scale gate for WIDE results (round-18 ask #4): the
  * sf100 outputs of the full-width tabular `pql_*` entries reach
  * hundreds of millions of rows × strings — tens of GB as parquet,
  * which is why the r17 sweep excluded them. This main computes a
  * CROSS-ENGINE row hashsum directly on the Spark side (no
  * materialization): each row is rendered to a canonical string using
  * only operations both engines evaluate bit-identically —
  *
  *   - integral types: decimal string;
  *   - strings: verbatim (nulls → a \\u0002 sentinel);
  *   - timestamps: epoch MICROSECONDS as a decimal string
  *     (`unix_micros` here ≡ DuckDB `epoch_us`, UTC session);
  *   - double: `floor(x * 1e6)` as a long — multiplication and floor
  *     are IEEE-exact in both engines, while double→string FORMATTING
  *     is not (the engine-exact float rules the gate has used since
  *     round 10);
  *
  * columns in NAME order, joined with \\u0001 — then md5, first 15 hex
  * digits (60 bits) as a number, summed exactly (decimal(38,0) here,
  * HUGEINT in DuckDB). `tools/oracle.py hashgate` computes the same
  * (count, hashsum) over the entry's DuckDB oracle SQL; equality is a
  * multiset-exact verdict with O(1) memory and zero dump bytes.
  *
  * Usage: graft.HashGate <sfDir> <entry> [entry ...]
  * Prints one JSON line per entry: {"entry":..,"count":..,"hashsum":".."}
  */
object HashGate {

  /** Canonical cross-engine string rendering of one column. */
  private def canon(field: StructField): org.apache.spark.sql.Column = {
    val c = col("`" + field.name.replace("`", "``") + "`")
    val rendered = field.dataType match {
      case LongType | IntegerType | ShortType | ByteType => c.cast("string")
      case StringType                                    => c
      case BooleanType                                   => c.cast("string")
      case TimestampType | TimestampNTZType              => unix_micros(c.cast("timestamp")).cast("string")
      case DoubleType | FloatType => floor(c.cast("double") * lit(1000000.0)).cast("string")
      case other =>
        throw new IllegalArgumentException(
          s"hashgate: no cross-engine canonical form for ${field.name}: $other")
    }
    coalesce(rendered, lit("\u0002"))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val entries = args.drop(1)
    val spark = Sessions.local()

    entries.foreach { e =>
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(e)(spark, sfDir)
      val pieces = df.schema.fields.sortBy(_.name).map(canon)
      val rowStr = concat_ws("\u0001", pieces.toIndexedSeq: _*)
      val h = conv(substring(md5(rowStr), 1, 15), 16, 10).cast("decimal(38,0)")
      val row = df.select(count(lit(1)).as("n"), sum(h).as("s")).collect()(0)
      val secs = (System.nanoTime() - t0) / 1e9
      println(
        s"""{"entry":${Json.str(e)},"count":${row.getLong(0)},"hashsum":"${row.get(1)}","sec":${f"$secs%.1f"}}""")
    }
    spark.stop()
  }
}
