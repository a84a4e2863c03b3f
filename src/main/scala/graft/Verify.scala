package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: <sfDir> <outDir> [entryName ...] — with names given, dump
    // only those entries (targeted re-checks at big SFs); oracle json
    // is written either way
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).toSet
    val spark = Sessions.local()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      val target = java.nio.file.Paths.get(s"$outDir/$name.parquet")
      // repartition(1), NOT coalesce(1): coalesce propagates the
      // 1-partition constraint up to the previous shuffle, so a
      // shuffle-free pipeline (scan → per-row transforms → explode)
      // would execute as ONE task — measured 8 min for the sf1
      // text_chunk dump vs seconds. repartition inserts an exchange:
      // upstream keeps its parallelism, only the write is single-task.
      // Dump row order doesn't matter (the oracle compare sorts).
      try fn(spark, sfDir).repartition(1).write.mode("overwrite")
        .parquet(target.toString)
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // never leave a previous run's dump behind: a stale result
        // would score as a false PASS in the oracle compare
        graft.streaming.Replay.wipe(target.toString)
      }
    }
    // Key each oracle BOTH ways: the driver's round-2 CORRECTNESS report
    // keyed every result by its parquet file name ("<name>.parquet") and
    // recorded `no_oracle` for all 50 bare-name keys — so the lookup key
    // is the file name, suffix included. Bare names are kept as a hedge
    // (harmless duplicates; tools/oracle.py normalizes).
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k, k + ".parquet").map(key => s"${Json.str(key)}: ${Json.str(v)}") }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
