package graft.fuzz

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** DuckDB leg of the differential fuzz (round 18): for every seeded
  * pipeline whose constructs have an exact DuckDB translation
  * ([[GenQuery.duckSql]]), run the CATALYST PLAN path and dump the
  * result to parquet, plus the generator's independently-authored
  * DuckDB SQL to `fuzz_duck_sql.json`. `tools/oracle.py fuzz` then
  * executes each DuckDB rendering over the same parquet tables and
  * compares multisets — the third backend of the differential
  * (DiffFuzzSpec covers plan ≡ SQL-text in sbt).
  *
  * Usage: graft.fuzz.DiffFuzz <sfDir> <outDir> [nSeeds] [takeAllRows]
  * [ext] — takeAllRows must exceed every reachable intermediate at
  * the chosen SF (PipelineGen.apply scaladoc; 2M default covers
  * sf0.001/sf0.01, the sf0.1 campaign passes 20M). With `ext`, every
  * seed is forced down the extension-anchored branch
  * (PipelineGen.extension) — the round-19 campaign giving random
  * compositions that END in §2.4 operators the DuckDB third leg.
  */
object DiffFuzz {
  def main(args: Array[String]): Unit = {
    val ext = args.contains("ext")
    val posArgs = args.filterNot(_ == "ext")
    val sfDir = posArgs(0)
    val outDir = posArgs(1)
    val nSeeds = if (posArgs.length > 2) posArgs(2).toInt else 1000
    val takeAllRows = if (posArgs.length > 3) posArgs(3).toInt else 2000000

    val spark = graft.Sessions.local()

    val catalog = graft.Pql.parquetDir(spark, sfDir)
    Files.createDirectories(Paths.get(outDir))

    val sqls = scala.collection.mutable.LinkedHashMap[String, String]()
    var written = 0
    var skipped = 0
    (1 to nSeeds).foreach { seed =>
      val gq =
        if (ext) PipelineGen.extension(seed.toLong, takeAllRows)
        else PipelineGen(seed.toLong, takeAllRows)
      gq.duckSql match {
        case Some(dsql) =>
          val name = s"fuzz_$seed"
          try {
            graft.Pql.query(spark, gq.pql, catalog)
              .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
            sqls(name) = dsql
            written += 1
          } catch {
            case e: Exception =>
              // a plan-path failure is DiffFuzzSpec's jurisdiction;
              // surface it here too rather than silently dropping
              System.err.println(s"[difffuzz] seed $seed PLAN FAILED: ${e.getMessage}")
              skipped += 1
          }
        case None => ()
      }
    }

    val json = sqls.map { case (k, v) => s"  ${graft.Json.str(k)}: ${graft.Json.str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
    Files.write(Paths.get(s"$outDir/fuzz_duck_sql.json"), json.getBytes(StandardCharsets.UTF_8))
    println(s"""{"difffuzz":{"written":$written,"planFailed":$skipped,"seeds":$nSeeds}}""")
    spark.stop()
  }
}
