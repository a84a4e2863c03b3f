package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpoint-restart recovery drill for the file sink's exactly-once
  * contract (the claim at [[Streaming.runToParquet]]): a subprocess
  * main that either DRAINS a streaming workload to completion, or
  * hard-CRASHES it (`Runtime.halt` — no shutdown hooks, no stream
  * cleanup, whatever uncommitted sink/task files exist stay on disk)
  * after N committed micro-batches with input still pending. The
  * harness (RestartSpec / the BASELINE campaign) runs
  * `crash` then `drain` against the SAME checkpoint and asserts the
  * recovered output — read through `_spark_metadata`, so only
  * sink-committed files count — is identical to an uninterrupted run.
  *
  * Recovery mechanics under test (all Spark-native): the offsets WAL
  * is written before a batch runs, so a re-started query re-executes
  * the in-flight batch with the SAME planned offsets; the recovered
  * watermark rides in the offset log, so window finalization does not
  * depend on where the crash fell; and the parquet sink's metadata log
  * makes orphaned task files from the killed attempt invisible to
  * readers. At 100 TB executor/driver loss is routine — this is the
  * streaming contract a real deployment leans on hardest.
  *
  * Usage:
  *   runMain graft.streaming.RestartDrill prep  <sfDir> <scratch> [nFiles]
  *   runMain graft.streaming.RestartDrill drain <scratch> <workload> <tag>
  *   runMain graft.streaming.RestartDrill crash <scratch> <workload> <tag> <haltAfterBatches>
  * where <workload> is `window` (PQL windowed agg, append file sink),
  * `dedup_exact` (PQL streaming dedup kind=exact, digest output), or
  * `dedup_minhash` / `dedup_embed` (the band-claim stateful kinds,
  * band-projection output — the StreamFuzz sound gate).
  */
object RestartDrill {

  /** Fixed small parallelism: runs A (uninterrupted) and B
    * (crash+restart) must batch and shuffle identically for the
    * output compare to be exact.
    */
  private def session(): SparkSession = graft.Sessions.local(cpus = 4)

  /** Time-ordered multi-file replay inputs (same shape as Soak:
    * [[Replay.writeTimeOrdered]] slices).
    */
  def prep(spark: SparkSession, sfDir: String, scratch: String, nFiles: Int): Unit = {
    val t = graft.sources.Tables.parquetDir(spark, sfDir)
    Replay.writeTimeOrdered(t("events"), s"$scratch/events", nFiles)
    Replay.writeTimeOrdered(Replay.timed("documents", t("documents")), s"$scratch/docs", nFiles)
    Replay.writeTimeOrdered(Replay.timed("embeddings", t("embeddings")), s"$scratch/emb", nFiles)
    // disordered replays (the DisorderFuzz layouts) for the
    // restart × disorder intersection workloads
    graft.fuzz.DisorderFuzz.prepare(spark, sfDir, s"$scratch/dis", seed = 7)
  }

  /** The streaming plan per workload — built identically on first
    * start and on restart (Structured Streaming checkpoints offsets
    * and state, not the plan; the caller re-creates it).
    */
  def build(spark: SparkSession, scratch: String, workload: String): DataFrame = {
    def stream(table: String, dir: String, delay: String): String => DataFrame =
      Replay.catalog(table, Streaming.withEventTime(Replay.fileStream(spark, s"$scratch/$dir"), "ts", delay))
    val window = """events | summarize n = count() by hb = bin(ts, "1h"), event_type"""
    // sound gate for the band-claim kinds (the StreamFuzz rule): WHICH
    // row owns a band is arrival-ordered within a micro-batch (shuffle
    // fetch order), but the claimed band multiset is deterministic — so
    // the sink carries the band projection, and the drill's row compare
    // IS the band-set compare
    def bands(df: DataFrame): DataFrame =
      df.select(col("band_idx").cast("int").as("band_idx"), col("band_key").cast("string").as("band_key"))
    workload match {
      case "window" =>
        graft.Pql.query(spark, window, stream("events", "events", "10 minutes"))
      case "dedup_exact" =>
        graft.Pql.query(spark, "documents | dedup kind=exact text by doc_id", stream("documents", "docs", "1 hour"))
          .select(md5(graft.ops.TextOps.normalize(col("text")).cast("binary")).as("digest"))
      case "dedup_minhash" =>
        bands(graft.Pql.query(spark, "documents | dedup kind=minhash text by doc_id",
          stream("documents", "docs", "1 hour")))
      case "dedup_embed" =>
        bands(graft.Pql.query(spark, "embeddings | dedup kind=embed dim=64 planes=32 bits=8 embedding by vec_id",
          stream("embeddings", "emb", "1 hour")))
      case "window_jitter" | "window_late" =>
        // restart × disorder intersection: the same windowed agg over a
        // DISORDERED events replay (DisorderFuzz layouts — jitter =
        // bounded cross-file disorder inside the 1-day watermark delay;
        // late = on-time files plus one final beyond-budget holdout
        // file). The crash lands BEFORE the holdout file arrives, so on
        // the late layout it is the watermark RECOVERED from the offset
        // log that must drop the holdout exactly as the uninterrupted
        // run's in-memory watermark does.
        val layout = if (workload == "window_jitter") "jitter" else "late"
        graft.Pql.query(spark, window, stream("events", s"dis/events/$layout", "1 day"))
      case other =>
        sys.error(s"unknown workload $other (window | dedup_exact | dedup_minhash | dedup_embed | window_jitter | window_late)")
    }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "prep" :: sfDir :: scratch :: rest =>
      val spark = session()
      prep(spark, sfDir, scratch, rest.headOption.map(_.toInt).getOrElse(10))
      spark.stop()

    case "drain" :: scratch :: workload :: tag :: Nil =>
      val spark = session()
      val q = Streaming.runToParquet(
        build(spark, scratch, workload),
        s"$scratch/${workload}_$tag/out", s"$scratch/${workload}_$tag/ckpt")
      Replay.drain(q)
      val n = spark.read.parquet(s"$scratch/${workload}_$tag/out").count()
      println(s"""{"drill":"drain","workload":"$workload","tag":"$tag","output_rows":$n}""")
      spark.stop()

    case "crash" :: scratch :: workload :: tag :: haltAfter :: Nil =>
      val spark = session()
      val q = Streaming.runToParquet(
        build(spark, scratch, workload),
        s"$scratch/${workload}_$tag/out", s"$scratch/${workload}_$tag/ckpt")
      val minBatches = haltAfter.toLong
      // 10 minutes, not 2: the drill's only timing assumption is "the
      // stream reaches batch N eventually". Under full-suite CPU
      // contention on a degraded VM the 120 s form flaked (rc=1 from
      // this exit instead of the 137 halt) while the same drill passed
      // 6/6 in isolation — the deadline exists to fail a HUNG stream,
      // so it should sit far above any plausible slow-but-alive run.
      val deadline = System.currentTimeMillis() + 600000L
      while (Option(q.lastProgress).forall(_.batchId < minBatches)) {
        if (System.currentTimeMillis() > deadline) {
          System.err.println(s"crash mode: batch $minBatches not reached in 600s")
          sys.exit(1)
        }
        Thread.sleep(20)
      }
      // hard kill: no q.stop(), no spark.stop(), no shutdown hooks —
      // the next micro-batch is likely mid-flight and its task files
      // are left uncommitted for the restart to supersede
      Runtime.getRuntime.halt(137)

    case other =>
      System.err.println(s"usage: prep|drain|crash …, got: ${other.mkString(" ")}")
      sys.exit(2)
  }
}
