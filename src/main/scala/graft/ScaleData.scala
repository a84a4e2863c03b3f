package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Dev utility: write a key-shifted `factor`× copy of a testdata scale
  * dir as MULTI-FILE parquet, for scale sweeps beyond the driver's
  * sf0.1 (e.g. a 10× copy of sf0.1 ≈ sf1) and for measuring multi-file
  * scan parallelism (the driver's single-file tables are one row group
  * each, so a headline scan is structurally single-threaded).
  *
  * Scaling shapes (the realistic growth axes):
  *   - dimensions (`region`, `nation`) are copied as-is;
  *   - fact tables shift their keys per replica, so FK joins stay
  *     consistent and cardinalities grow linearly (10× orders with the
  *     same lines-per-order, 10× users at the same per-user density);
  *   - `documents` suffixes every token with the replica index —
  *     replicas share NO shingles (distinct-corpus growth), and
  *     `n_chars` is recomputed to match;
  *   - `embeddings` shifts `vec_id` by a multiple of 50, so the ANN
  *     gate's `vec_id % 50 = 0` probe set also grows 10×.
  *
  * Usage: sbt "runMain graft.ScaleData <srcDir> <outDir> <factor> <filesPerTable>"
  */
object ScaleData {

  /** Key offset between replicas; multiple of 50 (ANN probe stride). */
  private val SH = 1000000000L
  private val SH2 = 10000000L

  def main(args: Array[String]): Unit = {
    val Array(src, out, factorS, filesS) = args
    val factor = factorS.toInt
    val files = filesS.toInt
    require(factor >= 1 && files >= 1)
    val spark = Sessions.local()
    val t = Tables.parquetDir(spark, src)

    def write(name: String)(replica: (DataFrame, Int) => DataFrame): Unit = {
      val base = t(name)
      val scaled =
        if (factor == 1) base
        else (0 until factor).map(i => replica(base, i)).reduce(_.unionByName(_))
      // round-robin repartition: equal-size files regardless of key skew
      scaled.repartition(files).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name x$factor -> $out/$name.parquet ($files files)")
    }
    def shift(cols: String*)(df: DataFrame, i: Int): DataFrame =
      cols.foldLeft(df)((d, c) => d.withColumn(c, col(c) + lit(i * SH)))

    // dimensions: one unreplicated copy (a scale factor grows facts,
    // not the region/nation vocabulary)
    Seq("region", "nation").foreach { name =>
      t(name).coalesce(1).write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name x1 -> $out/$name.parquet (1 file)")
    }
    write("customer")(shift("c_custkey"))
    write("supplier")(shift("s_suppkey"))
    write("part")(shift("p_partkey"))
    write("orders")(shift("o_orderkey", "o_custkey"))
    write("lineitem")(shift("l_orderkey", "l_partkey", "l_suppkey"))
    write("events") { (df, i) =>
      df.withColumn("event_id", col("event_id") + lit(i * SH))
        .withColumn("user_id", col("user_id") + lit(i * SH2))
    }
    write("documents") { (df, i) =>
      val txt =
        if (i == 0) col("text")
        else regexp_replace(col("text"), "([A-Za-z0-9]+)", s"$$1x$i")
      df.withColumn("doc_id", col("doc_id") + lit(i * SH2))
        .withColumn("text", txt)
        .withColumn("n_chars", length(txt).cast("long"))
    }
    write("embeddings")(shift("vec_id"))
    spark.stop()
  }
}
