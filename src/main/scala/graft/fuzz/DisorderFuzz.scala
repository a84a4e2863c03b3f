package graft.fuzz

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.{Replay, Streaming}

/** Out-of-order / late-data streaming fuzz (round 19). StreamFuzz
  * replays TIME-ORDERED files, so its 960 green compares never touched
  * the regime watermarks exist for — disorder. For each seeded
  * [[StreamGenQuery]] (same generator, same gated projections as
  * StreamFuzz) this runner replays the input two disordered ways and
  * asserts the watermark contract, all runs in APPEND mode so
  * finalization and late-drop semantics are actually load-bearing:
  *
  *  1. **bounded disorder ≡ ordered**: rows are re-batched by a jittered
  *     arrival key `ts + U(0, B)` with B strictly inside the watermark
  *     delay. For any row then `max(earlier ts) ≤ ts + B`, so the
  *     watermark at arrival `≤ ts + B − delay < ts` — nothing is ever
  *     late, and the gated result must equal the time-ordered replay
  *     exactly (windowed-agg contributions, dedup digest/band sets).
  *  2. **beyond-budget rows drop deterministically**: a holdout of
  *     earliest-quartile rows is delivered in one final file, after the
  *     file that carries the global max event time — at that batch the
  *     recovered watermark is `max − delay`, strictly newer than every
  *     holdout row, so STATEFUL operators must drop all of them: the
  *     result equals the ordered replay of the input WITH THE HOLDOUT
  *     DELETED. Stateless chains must do the opposite — a watermark
  *     never filters rows on its own, so the holdout rides through and
  *     the result equals the ordered replay of the FULL input.
  *
  * Per-table disorder geometry (the budget must be big relative to the
  * per-file time slice to force cross-batch disorder, and strictly
  * inside the delay for claim 1): events spans ~30 days → delay 1 day,
  * jitter 18 h; documents/embeddings carry the synthesized id-second
  * event time (~500 s span) → delay 2 minutes, jitter 90 s.
  *
  * Usage (standalone campaign): graft.fuzz.DisorderFuzz <sfDir> [nSeeds]
  */
object DisorderFuzz {

  private val idCol =
    Map("documents" -> "doc_id", "embeddings" -> "vec_id", "events" -> "event_id")

  /** (watermark delay, jitter budget micros): budget strictly < delay. */
  private val geometry: Map[String, (String, Long)] = Map(
    "events" -> (("1 day", 18L * 3600 * 1000000)),
    "documents" -> (("2 minutes", 90L * 1000000)),
    "embeddings" -> (("2 minutes", 90L * 1000000))
  )
  private val delayMicros: Map[String, Long] = Map(
    "events" -> 24L * 3600 * 1000000,
    "documents" -> 120L * 1000000,
    "embeddings" -> 120L * 1000000
  )

  private val tableNames = Seq("documents", "events", "embeddings")
  private val nFiles = 8

  /** Four layouts per table under `workDir/<table>/`:
    *   ordered — full input, 8 ts-range files (the reference replay)
    *   jitter  — full input, 8 files ranged by `ts + U(0, budget)`
    *   ontime  — input minus the late holdout, 8 ts-range files
    *   late    — ontime's files plus ONE final file with the holdout
    * All mtime-stamped so FileStreamSource replays in layout order.
    */
  def prepare(spark: SparkSession, sfDir: String, workDir: String, seed: Long): Unit =
    tableNames.foreach { t =>
      val df = Replay.timed(t, spark.read.parquet(s"$sfDir/$t.parquet"))

      val budget = geometry(t)._2
      val Array(minTs, maxTs) =
        df.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
          .collect()(0).toSeq.map(_.asInstanceOf[Long]).toArray
      // the holdout must be strictly older than the final watermark
      // (max − delay) or claim 2 is vacuous; the quartile bound plus a
      // jitter-budget margin keeps it sound for every table geometry
      val threshold = minTs + (maxTs - minTs) / 4
      require(threshold < maxTs - delayMicros(t) - budget,
        s"$t: event-time span too small for a guaranteed-late holdout")

      // parts unsorted within: the layouts the recorded campaigns ran on
      // (see Replay.writeTimeOrdered)
      def layout(rows: DataFrame, name: String, key: Column = col("ts")): Unit =
        Replay.writeTimeOrdered(rows, s"$workDir/$t/$name", nFiles, key, sorted = false)
      layout(df, "ordered")

      val arrival = timestamp_micros(
        unix_micros(col("ts")) + pmod(xxhash64(col(idCol(t)), lit(seed)), lit(budget)))
      layout(df, "jitter", arrival)

      val isLate = unix_micros(col("ts")) < lit(threshold) &&
        pmod(xxhash64(col(idCol(t)), lit(seed + 1)), lit(4)) === lit(0)
      layout(df.filter(!isLate), "ontime")

      // late = ontime's committed files + one holdout file, mtime last
      val lateDir = s"$workDir/$t/late"
      val holdScratch = s"$workDir/$t/__holdout"
      val holdout = df.filter(isLate)
      require(holdout.limit(1).count() == 1, s"$t: empty late holdout — claim 2 would be vacuous")
      holdout.coalesce(1).write.mode("overwrite").parquet(holdScratch)
      val dst = new java.io.File(lateDir)
      dst.mkdirs()
      val ontimeParts = Replay.parts(s"$workDir/$t/ontime")
      ontimeParts.foreach { f =>
        java.nio.file.Files.copy(f.toPath, new java.io.File(dst, f.getName).toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
      val hold = Replay.parts(holdScratch).head
      java.nio.file.Files.copy(hold.toPath,
        new java.io.File(dst, "part-99999-holdout.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Replay.stampMtimes(lateDir)
    }

  private def layoutCatalog(spark: SparkSession, workDir: String, layout: String): String => DataFrame =
    name => Streaming.withEventTime(Replay.fileStream(spark, s"$workDir/$name/$layout"), "ts", geometry(name)._1)

  /** The watermark only sees rows that REACH the watermark node:
    * Catalyst pushes a pre-filter that does not touch the event-time
    * column BELOW `withWatermark`, so at the holdout batch the
    * watermark is `max(surviving on-time event time) − delay` — NOT
    * `max(delivered) − delay`. (Found by this fuzzer's own seed 50 at
    * sf0.001: a filter that kills every on-time row leaves the
    * watermark at its initial value and the "guaranteed-late" holdout
    * is legitimately not late. Correct Spark semantics — and a real
    * operational property at scale: a highly selective pre-filter
    * slows watermark advance.) The guaranteed-drop leg therefore only
    * asserts when the surviving on-time max pushes the watermark
    * strictly past every SURVIVING holdout row, with a 1 s margin for
    * the engine's ms-granularity watermark arithmetic.
    */
  private def lateDropGuaranteed(spark: SparkSession, workDir: String, gq: StreamGenQuery): Boolean = {
    def survivingMax(layout: String): Option[Long] = {
      val cat: String => DataFrame = name => spark.read.parquet(s"$workDir/$name/$layout")
      graft.Pql.query(spark, gq.prePql, cat)
        .agg(max(unix_micros(col("ts")))).collect()(0) match {
        case r if r.isNullAt(0) => None
        case r                  => Some(r.getLong(0))
      }
    }
    (survivingMax("__holdout"), survivingMax("ontime")) match {
      case (None, _) => true // holdout fully pre-filtered: late ≡ ontime trivially
      case (Some(h), Some(m)) => h < m - delayMicros(gq.base) - 1000000L
      case (Some(_), None) => false // watermark never advances
    }
  }

  /** Run one seed's disorder differential; None = pass. */
  def check(spark: SparkSession, workDir: String, seed: Long): Option[String] = {
    val gq = PipelineGen.stream(seed)
    val gate: DataFrame => DataFrame = gq.terminal match {
      case "exact"                => StreamFuzz.digestOf
      case "minhash" | "embed"    => StreamFuzz.bandsOf
      case _                      => identity
    }
    val drained = scala.collection.mutable.ArrayBuffer[Replay.Drained]()
    def run(layout: String): (Seq[String], Seq[Seq[Any]]) = {
      drained += Replay.drain(graft.Pql.query(spark, gq.pql, layoutCatalog(spark, workDir, layout)), "append")
      StreamFuzz.canon(gate(drained.last.table))
    }
    try {
      val ordered = run("ordered")
      StreamFuzz.compare("jitter≡ordered", run("jitter"), ordered)
        .orElse {
          // stateless chains must KEEP beyond-budget rows (a watermark
          // alone filters nothing); stateful ops must DROP all of them
          // — when the watermark model says the drop is guaranteed
          if (gq.terminal == "stateless")
            StreamFuzz.compare("late≡full(kept)", run("late"), ordered)
          else if (lateDropGuaranteed(spark, workDir, gq))
            StreamFuzz.compare("late≡ontime(dropped)",
              run("late"), run("ontime"))
          else None // counted by the campaign as late-leg skipped
        }
    } finally drained.foreach(_.release())
  }

  /** True when [[check]] would run the guaranteed-drop leg (campaign
    * accounting: skipped legs must be visible, not silent).
    */
  def lateLegRuns(spark: SparkSession, workDir: String, seed: Long): Boolean = {
    val gq = PipelineGen.stream(seed)
    gq.terminal == "stateless" || lateDropGuaranteed(spark, workDir, gq)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nSeeds = if (args.length > 1) args(1).toInt else 150

    val spark = graft.Sessions.local()

    val workDir = java.nio.file.Files.createTempDirectory("graft_disorderfuzz").toString
    prepare(spark, sfDir, workDir, seed = 1L)

    var pass = 0
    var lateSkipped = 0
    val byTerminal = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    (1 to nSeeds).foreach { seed =>
      val gq = PipelineGen.stream(seed.toLong)
      byTerminal(gq.terminal) += 1
      try {
        if (!lateLegRuns(spark, workDir, seed.toLong)) lateSkipped += 1
        check(spark, workDir, seed.toLong) match {
          case None => pass += 1
          case Some(d) =>
            failures += s"seed $seed: $d"
            System.err.println(s"[disorderfuzz] seed $seed DIFF: $d\n--- pql:\n${gq.pql}")
        }
      } catch {
        case e: Exception =>
          failures += s"seed $seed: ${e.getClass.getSimpleName}: ${e.getMessage}"
          System.err.println(
            s"[disorderfuzz] seed $seed ERROR: ${e.getMessage}\n--- pql:\n${gq.pql}")
      }
    }
    val mix = byTerminal.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString(",")
    println(
      s"""{"disorderfuzz":{"seeds":$nSeeds,"pass":$pass,"fail":${failures.length},""" +
        s""""late_leg_skipped":$lateSkipped,"mix":{$mix}}}""")
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
