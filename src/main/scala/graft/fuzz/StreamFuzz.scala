package graft.fuzz

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{Replay, Streaming}

/** Streaming differential fuzz (round 18): the batch-side
  * DiffFuzzSpec exhausted the batch composition space; what no fixed
  * gate entry varies is random PRE-ops composed with the STREAMING
  * operator routes (Compiler's `df.isStreaming` branches) and the
  * micro-batch boundaries the state machinery must be invariant to.
  * For each seeded [[StreamGenQuery]] this runner asserts:
  *
  *  1. **batch ≡ stream**: the same PQL text over the same data gives
  *     the same gated result when the catalog is a parquet read vs a
  *     file-stream source replayed one file per trigger —
  *     full-row multiset for stateless chains and windowed summarize
  *     (complete mode), the normalized-text digest SET for
  *     `dedup kind=exact` (first-arrival representative rows are
  *     arrival-ordered; the digest set is deterministic — the
  *     stream_dedup_exact gate's rule), the emitted band SET for the
  *     minhash/embed kinds (recomputed batch-side with the stateless
  *     row-band library calls the stream route wraps);
  *  2. **micro-batch-partitioning invariance** (stateful terminals):
  *     one file per trigger ≡ all files in one trigger.
  *
  * Event time is monotone across micro-batches by construction:
  * [[prepare]] range-partitions each table by `ts` into four files with
  * mtimes in range order ([[graft.streaming.Replay.writeTimeOrdered]]),
  * so the 1-hour watermark never drops a row and batch parity is exact,
  * not merely modal.
  *
  * Usage (standalone campaign): graft.fuzz.StreamFuzz <sfDir> [nSeeds]
  */
object StreamFuzz {

  private val tableNames = Seq("documents", "events", "embeddings")

  /** Split each fuzz table into four ts-range files under
    * `workDir/<table>/` ([[Replay.writeTimeOrdered]]), unsorted within
    * as the recorded campaigns ran on them.
    */
  def prepare(spark: SparkSession, sfDir: String, workDir: String): Unit =
    tableNames.foreach { t =>
      Replay.writeTimeOrdered(
        Replay.timed(t, spark.read.parquet(s"$sfDir/$t.parquet")), s"$workDir/$t", 4, sorted = false)
    }

  def batchCatalog(spark: SparkSession, workDir: String): String => DataFrame =
    name => spark.read.parquet(s"$workDir/$name")

  /** File-stream catalog over the prepared splits: one file per
    * trigger, or all files in the first micro-batch.
    */
  def streamCatalog(
      spark: SparkSession,
      workDir: String,
      oneFilePerTrigger: Boolean
  ): String => DataFrame =
    name => {
      val dir = s"$workDir/$name"
      Streaming.withEventTime(
        if (oneFilePerTrigger) Replay.fileStream(spark, dir) else Replay.stream(spark, dir), "ts", "1 hour")
    }

  // ---- gated projections --------------------------------------------------

  private[fuzz] def digestOf(df: DataFrame): DataFrame =
    df.select(
        md5(graft.ops.TextOps.normalize(col("text")).cast("binary")).as("digest"))
      .distinct()

  private[fuzz] def bandsOf(df: DataFrame): DataFrame =
    df.select(col("band_idx").cast("int").as("band_idx"),
        col("band_key").cast("string").as("band_key"))
      .distinct()

  // ---- multiset compare -----------------------------------------------------

  /** Columns sorted by name, rows sorted by a coarse rendering
    * (doubles rounded so sub-tolerance drift cannot misalign rows).
    * Same canonicalization as DiffFuzzSpec, with an absolute epsilon
    * floor on doubles: a windowed SUM's partial-aggregation tree
    * differs between the batch plan and the incremental micro-batch
    * states, and near-cancelling float sums have no relative bound.
    */
  def canon(df: DataFrame): (Seq[String], Seq[Seq[Any]]) = {
    val names = df.columns.toSeq
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    def keyCell(a: Any): String = a match {
      case null                => " "
      case d: java.lang.Double => if (d.isNaN) "nan" else f"${d.toDouble}%.6e"
      case f: java.lang.Float  => if (f.isNaN) "nan" else f"${f.toDouble}%.6e"
      case b: Array[Byte]      => b.mkString(",")
      case x                   => String.valueOf(x)
    }
    val rows = df.collect().toSeq.map(r => order.map(i => r.get(i)))
    (names.sorted, rows.sortBy(_.map(keyCell).mkString("\u0000")))
  }

  private def cellEq(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null)          => true
    case (null, _) | (_, null) => false
    case (x: java.lang.Double, y: java.lang.Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-4 ||
        math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: java.lang.Float, y: java.lang.Float) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-6 * math.max(math.abs(x), math.abs(y))
    case (x: Seq[_], y: Seq[_]) =>
      x.length == y.length && x.lazyZip(y).forall(cellEq)
    case (x, y) => x == y
  }

  private[fuzz] def compare(
      label: String,
      got: (Seq[String], Seq[Seq[Any]]),
      want: (Seq[String], Seq[Seq[Any]])
  ): Option[String] = {
    if (got._1 != want._1)
      return Some(s"$label: schema mismatch: got=${got._1} want=${want._1}")
    if (got._2.length != want._2.length)
      return Some(s"$label: row count mismatch: got=${got._2.length} want=${want._2.length}")
    got._2.lazyZip(want._2).zipWithIndex.collectFirst {
      case ((g, w), i) if !g.lazyZip(w).forall(cellEq) =>
        s"$label: row $i differs:\n  got:  $g\n  want: $w"
    }
  }

  // ---- per-seed check --------------------------------------------------------

  /** Run one seed's differential; None = pass, Some(msg) = diff. */
  def check(spark: SparkSession, workDir: String, seed: Long): Option[String] = {
    val gq = PipelineGen.stream(seed)
    val mode = if (gq.terminal == "window") "complete" else "append"
    val drained = scala.collection.mutable.ArrayBuffer[Replay.Drained]()
    def run(oneFilePerTrigger: Boolean): DataFrame = {
      drained += Replay.drain(graft.Pql.query(spark, gq.pql, streamCatalog(spark, workDir, oneFilePerTrigger)), mode)
      drained.last.table
    }
    try {
      val streamed = run(oneFilePerTrigger = true)
      val batchCat = batchCatalog(spark, workDir)
      val parity: Option[String] = gq.terminal match {
        case "stateless" | "window" =>
          compare("batch≡stream", canon(streamed),
            canon(graft.Pql.query(spark, gq.pql, batchCat)))
        case "exact" =>
          compare("digest set", canon(digestOf(streamed)),
            canon(digestOf(graft.Pql.query(spark, gq.prePql, batchCat))))
        case "minhash" =>
          compare("band set", canon(bandsOf(streamed)),
            canon(bandsOf(graft.ops.NearDup.rowBandRows(
              graft.Pql.query(spark, gq.prePql, batchCat), "text"))))
        case _ =>
          compare("band set", canon(bandsOf(streamed)),
            canon(bandsOf(graft.ops.NearDup.rowEmbedBandRows(
              graft.Pql.query(spark, gq.prePql, batchCat), "embedding",
              dim = 64, planes = 32, bandBits = 8))))
      }
      if (parity.isDefined) return parity

      // micro-batch-partitioning invariance for the stateful terminals
      if (gq.terminal != "stateless") {
        val oneShot = run(oneFilePerTrigger = false)
        val gate: DataFrame => DataFrame = gq.terminal match {
          case "window" => df => df
          case "exact"  => digestOf
          case _        => bandsOf
        }
        compare("1-file-trigger≡single-batch", canon(gate(streamed)), canon(gate(oneShot)))
      } else None
    } finally drained.foreach(_.release())
  }

  // ---- standalone campaign ---------------------------------------------------

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nSeeds = if (args.length > 1) args(1).toInt else 250

    val spark = graft.Sessions.local()

    val workDir =
      java.nio.file.Files.createTempDirectory("graft_streamfuzz").toString
    prepare(spark, sfDir, workDir)

    var pass = 0
    val byTerminal = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    (1 to nSeeds).foreach { seed =>
      val gq = PipelineGen.stream(seed.toLong)
      byTerminal(gq.terminal) += 1
      try {
        check(spark, workDir, seed.toLong) match {
          case None    => pass += 1
          case Some(d) =>
            failures += s"seed $seed: $d"
            System.err.println(s"[streamfuzz] seed $seed DIFF: $d\n--- pql:\n${gq.pql}")
        }
      } catch {
        case e: Exception =>
          failures += s"seed $seed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(
            s"[streamfuzz] seed $seed ERROR: ${e.getMessage}\n--- pql:\n${gq.pql}")
      }
    }
    val mix = byTerminal.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(
      s"""{"streamfuzz":{"seeds":$nSeeds,"pass":$pass,"fail":${failures.length},"mix":{$mix}}}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
