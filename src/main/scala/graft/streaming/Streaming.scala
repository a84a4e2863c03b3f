package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}

import graft.Pql

/** Structured-Streaming entry points.
  *
  * graft's compiler emits one declarative Catalyst plan per query, so
  * the SAME compiled plan runs over batch or streaming inputs — the
  * catalog just hands back a `readStream` DataFrame instead of a batch
  * one (reference compiles to SQL strings and has no streaming story;
  * this is the Spark-native upgrade).
  *
  * Scale posture: stateful aggregations must bound their state.
  * [[withEventTime]] attaches the watermark that lets Spark evict
  * closed windows; [[binWindow]] maps PQL's `bin(ts, d)` bucketing to
  * a native `window()` so append-mode sinks (kafka/parquet) work with
  * finalized-only results.
  *
  * Turning a table into a time-ordered file stream and draining a
  * running query back is [[Replay]]'s job: the gate entries, the soak,
  * the restart drill, the stream fuzzers and `MicroBench streambench`
  * replay and drain through it.
  */
object Streaming {

  /** Compile a PQL query whose table names resolve through `catalog`
    * to streaming DataFrames — identical semantics to the batch path
    * (it IS the batch compile; the plan is input-agnostic).
    */
  def query(
      spark: SparkSession,
      source: String,
      catalog: String => DataFrame,
      params: Map[String, Column] = Map.empty
  ): DataFrame = Pql.query(spark, source, catalog, params)

  /** Declare `tsCol` as event time with a lateness bound. Required for
    * append-mode windowed aggregation (bounded state at scale).
    */
  def withEventTime(df: DataFrame, tsCol: String, maxLateness: String): DataFrame =
    df.withWatermark(tsCol, maxLateness)

  /** Tumbling event-time window, the streaming equivalent of PQL
    * `bin(ts, duration)`: group by THIS struct (project `.start` after
    * the aggregation — extracting it before hides the event-time
    * window from the analyzer and breaks append mode), so state is
    * evictable once the watermark passes the window end.
    */
  def binWindow(tsCol: Column, duration: String): Column =
    window(tsCol, duration)

  /** Streaming exact dedup: drop rows whose normalized-text digest was
    * already seen, with state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark` — duplicates are guaranteed
    * dropped when their event times fall within `maxLateness` of the
    * first occurrence; older state is evicted, which is the only
    * state-bounded contract possible on an unbounded stream).
    *
    * Batch counterpart: `graft.ops.Dedup.exact`, which keeps the
    * LOWEST id per digest; the stream necessarily keeps the FIRST
    * ARRIVAL instead (there is no total order to pick a minimum over).
    */
  def dedupExact(df: DataFrame, textCol: String, tsCol: String, maxLateness: String): DataFrame =
    dedupExactOn(df.withWatermark(tsCol, maxLateness), textCol)

  /** [[dedupExact]] over an input that ALREADY carries its event-time
    * watermark — the form the PQL compiler targets (`| dedup` on a
    * streaming table; the catalog owns the watermark).
    */
  def dedupExactOn(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__graft_digest", md5(graft.ops.TextOps.normalize(col(textCol)).cast("binary")))
      .dropDuplicatesWithinWatermark("__graft_digest")
      .drop("__graft_digest")

  /** Streaming MinHash NEAR-dup state: each incoming row expands to
    * its LSH band rows ([[graft.ops.NearDup.rowBandRows]] — row-local
    * expressions, no shuffle before the stateful operator) and each
    * (band_idx, band_key) is kept only for its FIRST arrival within
    * the watermark — the streaming analogue of the batch band join,
    * with state bounded by event time exactly like
    * [[dedupExact]]'s digest state.
    *
    * Downstream decides the doc-level policy from the emitted claims:
    * a row that retains ALL `k/bandRows` of its bands collided with
    * nothing seen before (novel); fewer means at least one band was
    * claimed by an earlier row (near-dup candidate of it). The
    * emitted BAND SET is deterministic under any partitioning /
    * arrival interleaving; which row owns a contested band follows
    * arrival order (same contract as [[dedupExact]]'s first-arrival
    * representative).
    */
  def dedupMinhashBands(
      df: DataFrame,
      textCol: String,
      tsCol: String,
      maxLateness: String,
      k: Int = 32,
      bandRows: Int = 2
  ): DataFrame =
    dedupMinhashBandsOn(df.withWatermark(tsCol, maxLateness), textCol, k, bandRows)

  /** [[dedupMinhashBands]] over an already-watermarked input (the PQL
    * compiler's target — the catalog owns the watermark).
    */
  def dedupMinhashBandsOn(
      df: DataFrame,
      textCol: String,
      k: Int = 32,
      bandRows: Int = 2
  ): DataFrame =
    graft.ops.NearDup
      .rowBandRows(df, textCol, k, bandRows)
      .dropDuplicatesWithinWatermark("band_idx", "band_key")

  /** Streaming EMBEDDING near-dup state (round 13): each incoming row
    * expands to its sign-LSH band rows
    * ([[graft.ops.NearDup.rowEmbedBandRows]] — the rowwise
    * PackedSignSig signature is ONE stateless codegen projection, so
    * nothing shuffles before the stateful operator) and each
    * (band_idx, band_key) is kept only for its FIRST arrival within
    * the watermark. Same contract as [[dedupMinhashBands]] with
    * hyperplane bands instead of minhash bands: the emitted band SET
    * is deterministic under any partitioning/arrival interleaving;
    * which row owns a contested band follows arrival order. A row that
    * retains all `planes/bandBits` of its bands is novel; fewer means
    * an earlier arrival claimed one (embedding near-dup candidate).
    */
  def dedupEmbedBands(
      df: DataFrame,
      vecCol: String,
      tsCol: String,
      maxLateness: String,
      dim: Int,
      planes: Int = 32,
      bandBits: Int = 8
  ): DataFrame =
    dedupEmbedBandsOn(df.withWatermark(tsCol, maxLateness), vecCol, dim, planes, bandBits)

  /** [[dedupEmbedBands]] over an already-watermarked input (the PQL
    * compiler's target — the catalog owns the watermark).
    */
  def dedupEmbedBandsOn(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      planes: Int = 32,
      bandBits: Int = 8
  ): DataFrame =
    graft.ops.NearDup
      .rowEmbedBandRows(df, vecCol, dim, planes, bandBits)
      .dropDuplicatesWithinWatermark("band_idx", "band_key")

  /** Run a compiled (streaming) plan into an in-memory table named
    * `name` — the test/debug sink. `complete` mode mirrors batch
    * results for unbounded aggregations; `append` emits only
    * watermark-finalized rows. Its temporary checkpoint goes through
    * [[LocalCheckpointFiles]] (see [[runToParquet]]).
    */
  def runToMemory(df: DataFrame, name: String, outputMode: String): StreamingQuery =
    writer(df).format("memory").queryName(name).outputMode(outputMode).start()

  /** Run a compiled (streaming) plan into a parquet directory — the
    * production file sink. Append mode only (the file sink cannot
    * rewrite finalized output), so aggregations must be watermarked.
    * The checkpoint directory carries the WAL + sink metadata that make
    * restarts exactly-once: readers going through Spark see only
    * committed files (`_spark_metadata`).
    *
    * Checkpoint files go through [[LocalCheckpointFiles]]: on a local
    * file system Spark's default manager forks `readlink` and `chmod`
    * for file metadata, ~130 processes per trigger and most of its fixed
    * cost; graft's manager writes the same files, `.crc` side files and
    * permissions by the same temp-then-rename without starting a
    * process, and keeps Spark's default on every other scheme. On a
    * local file system Spark's FileContext manager, its FileSystem
    * manager and graft's are all check-then-rename, so no
    * concurrent-writer guarantee is weakened. It is installed through
    * `spark.sql.streaming.checkpointFileManagerClass` before `start()`
    * only when the session names no manager; a session that names one
    * keeps it, and old checkpoints resume unchanged.
    */
  def runToParquet(df: DataFrame, path: String, checkpointDir: String): StreamingQuery =
    writer(df)
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append)
      .start()

  /** `df.writeStream`, after naming [[LocalCheckpointFiles]] as the
    * session's checkpoint file manager unless it already names one.
    */
  private def writer(df: DataFrame): DataStreamWriter[Row] = {
    val conf = df.sparkSession.conf
    if (conf.getOption(LocalCheckpointFiles.ConfKey).isEmpty)
      conf.set(LocalCheckpointFiles.ConfKey, classOf[LocalCheckpointFiles].getName)
    df.writeStream
  }
}
