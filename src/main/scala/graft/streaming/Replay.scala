package graft.streaming

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Replay and drain: how a table becomes a time-ordered file stream and
  * how a stream is read back. The streaming gate entries, `Soak`,
  * `RestartDrill`, `StreamFuzz`, `DisorderFuzz` and
  * `MicroBench streambench` all go through here, so each of these
  * decisions is made once:
  *
  *  - [[timed]]: the event time of a table that carries none;
  *  - [[writeTimeOrdered]]: range slices by event time, one part file
  *    each, sorted within (by default) and mtime-stamped in part order;
  *  - [[fileStream]]: a directory replayed one file per trigger;
  *  - [[drain]]: a query run until its available input is consumed and
  *    stopped even when it fails;
  *  - [[wipe]]: a scratch directory deleted recursively.
  */
object Replay {

  /** The id column each event-time-less table synthesizes `ts` from. */
  private val syntheticTsId = Map("documents" -> "doc_id", "embeddings" -> "vec_id")

  /** `df`, read from `table`, with an event-time column `ts`: for
    * `documents` and `embeddings`, which carry none, the id as seconds
    * past 2023-11-14. The offset matters: a row at exactly epoch 0
    * equals the initial watermark and would be dropped as late.
    */
  def timed(table: String, df: DataFrame): DataFrame =
    syntheticTsId.get(table).fold(df) { id =>
      df.withColumn("ts", expr(s"timestamp_micros($id * 1000000 + 1700000000000000)"))
    }

  /** Writes `df` to `dir` as `nFiles` parquet parts, range-sliced by
    * `key` and, when `sorted`, sorted by it within each part, then
    * [[stampMtimes]], so [[fileStream]] replays the slices in `key`
    * order.
    *
    * Spark seeds a range exchange's sample with its RDD id, so on a
    * table larger than the sample the slice bounds depend on how many
    * RDDs the session made before; the sort adds some. A caller whose
    * layouts must stay as they were recorded keeps its `sorted`.
    */
  def writeTimeOrdered(
      df: DataFrame,
      dir: String,
      nFiles: Int,
      key: Column = col("ts"),
      sorted: Boolean = true
  ): Unit = {
    val sliced = df.repartitionByRange(nFiles, key)
    (if (sorted) sliced.sortWithinPartitions(key) else sliced).write.mode("overwrite").parquet(dir)
    stampMtimes(dir)
  }

  /** The `part-` files of `dir`, in name order. */
  def parts(dir: String): Seq[File] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq

  /** The file stream source picks files by modification time, not by
    * name, and parallel writers finish in any order: stamps the parts
    * of `dir` two seconds apart in name order.
    */
  def stampMtimes(dir: String): Unit = {
    val ps = parts(dir)
    val base = System.currentTimeMillis() - ps.length * 2000L
    ps.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }
  }

  /** The parquet files under `path` as a stream, all in the first
    * trigger.
    */
  def stream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)

  /** The parquet files under `path` as a stream of one file per
    * trigger, oldest modification time first.
    */
  def fileStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(path).schema)
      .option("maxFilesPerTrigger", "1").parquet(path)

  /** A catalog that holds one table, `name`. */
  def catalog(name: String, df: DataFrame): String => DataFrame = {
    case `name` => df
    case other  => sys.error(s"no streaming table $other")
  }

  /** A drained memory-sink query: its rows as `table`, and the
    * progress of its triggers.
    */
  final case class Drained(sink: String, table: DataFrame, progress: Seq[StreamingQueryProgress]) {

    /** Drops the sink's view, and with it the rows the sink holds. */
    def release(): Unit = table.sparkSession.catalog.dropTempView(sink)
  }

  /** Runs `df` into a fresh memory sink until its available input is
    * consumed (`outputMode` as in [[Streaming.runToMemory]]).
    */
  def drain(df: DataFrame, outputMode: String): Drained = {
    val sink = "replay_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val progress = drain(Streaming.runToMemory(df, sink, outputMode))
    Drained(sink, df.sparkSession.table(sink), progress)
  }

  /** Consumes the available input of `q`, stops it, even when it
    * fails, and returns the progress of its recent triggers.
    */
  def drain(q: StreamingQuery): Seq[StreamingQueryProgress] = {
    try q.processAllAvailable()
    finally q.stop()
    q.recentProgress.toSeq
  }

  /** Deletes `dir` and everything under it, if it exists. */
  def wipe(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Using.resource(Files.walk(p))(_.iterator().asScala.toList).reverse.foreach(Files.deleteIfExists(_))
  }
}
