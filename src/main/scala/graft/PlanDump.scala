package graft

import java.nio.file.{Files, Paths}

/** Optimization-round tooling: dump `.explain("formatted")` for gate
  * entries to files, so plan-shape claims (Exchange count, join
  * strategy, PushedFilters/ReadSchema, codegen spans) are checkable
  * without running Spark.
  *
  * Usage: graft.PlanDump <sfDir> <outDir> <suffix> [entryName ...]
  * Writes `<outDir>/<name>_<suffix>.txt` for each named
  * [[SparkEntry.queries]] entry (default: every benchKeys + opsBenchKeys
  * entry); an unknown name fails before any session starts. Both build
  * their session through [[Sessions]], so the dumped plan is the
  * benched plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix) = args.take(3)
    val named = args.drop(3).toSeq
    val unknown = named.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entr${if (unknown.sizeIs > 1) "ies" else "y"} " +
      unknown.mkString(", "))
    val keys = if (named.isEmpty) SparkEntry.benchKeys ++ SparkEntry.opsBenchKeys else named
    val spark = Sessions.local()
    Files.createDirectories(Paths.get(outDir))
    keys.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
