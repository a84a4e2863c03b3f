package graft

import scala.sys.process.ProcessLogger

import graft.streaming.RestartDrill

/** Checkpoint-restart recovery (SURVEY §2.3, the exactly-once claim at
  * Streaming.runToParquet): a hard-killed (`Runtime.halt`, no cleanup)
  * streaming query, restarted from its checkpoint, must produce a
  * file-sink output identical to an uninterrupted run — for the
  * windowed-agg sink AND a stateful dedup kind. The kill lands after
  * ≥3 committed micro-batches with input still pending, so the restart
  * exercises WAL offset replay, watermark recovery from the offset
  * log, and `_spark_metadata` commit filtering over the killed
  * attempt's orphaned task files.
  *
  * Each drill spawns three full JVM Spark subprocesses, so the default
  * `sbt test` runs a two-drill smoke (the windowed-agg sink and one
  * stateful dedup kind); set GRAFT_RESTART_FULL=1 for all six drills
  * (SURVEY §5 campaign table). Round 19's six-drill default was part
  * of why the suite outran the driver's verify window.
  */
class RestartSpec extends SparkTestBase {

  import SparkTestBase.spark
  private val scratch = "/tmp/graft_restart_drill"
  private val sf = "/root/testdata/sf0.001"

  private lazy val javaBin = s"${sys.props("java.home")}/bin/java"
  private lazy val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def drill(args: String*): (Int, String) = {
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-cp", sys.props("java.class.path"), "graft.streaming.RestartDrill") ++ args
    val out = new StringBuilder
    val logger = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    (scala.sys.process.Process(cmd).!(logger), out.toString)
  }

  private def committedRows(dir: String): Long =
    // the file sink's metadata log filters the killed attempt's
    // orphaned task files; an all-empty-batches sink has no data file
    // to infer a schema from — that reads as 0 committed rows
    try spark.read.parquet(dir).count()
    catch { case _: org.apache.spark.sql.AnalysisException => 0L }

  private def canon(dir: String): Seq[String] = {
    val df = spark.read.parquet(dir)
    df.collect().toSeq
      .map(r => (0 until r.length).map(i => String.valueOf(r.get(i))).mkString("\u0000"))
      .sorted
  }

  private lazy val prepared: Unit = {
    graft.streaming.Replay.wipe(scratch)
    RestartDrill.prep(spark, sf, scratch, nFiles = 10)
  }

  private val fullDrills = sys.env.get("GRAFT_RESTART_FULL").exists(_.nonEmpty)

  /** Registers the drill only under GRAFT_RESTART_FULL=1; otherwise it
    * shows as ignored in the report rather than silently vanishing.
    */
  private def fullTest(name: String)(body: => Unit): Unit =
    if (fullDrills) test(name)(body) else ignore(name)(body)

  private def recoveryHolds(workload: String): Unit = {
    prepared
    // A: the uninterrupted reference run
    val (rcA, outA) = drill("drain", scratch, workload, "a")
    assert(rcA == 0, s"drain a failed rc=$rcA\n$outA")

    // B: hard-kill after ≥3 committed batches (batchId 2 observed),
    // 10 one-file batches planned → input is still pending at the kill
    val (rcB, outB) = drill("crash", scratch, workload, "b", "2")
    assert(rcB == 137, s"crash expected rc=137, got $rcB\n$outB")
    val partial = committedRows(s"$scratch/${workload}_b/out")

    // restart from the same checkpoint and drain
    val (rcB2, outB2) = drill("drain", scratch, workload, "b")
    assert(rcB2 == 0, s"restarted drain failed rc=$rcB2\n$outB2")

    val a = canon(s"$scratch/${workload}_a/out")
    val b = canon(s"$scratch/${workload}_b/out")
    assert(partial < a.size.toLong,
      s"$workload: kill landed after the stream finished (partial=$partial, final=${a.size}) — no recovery exercised")
    assert(a.size == b.size, s"$workload: rows ${a.size} (uninterrupted) vs ${b.size} (crash+restart)")
    assert(a == b, s"$workload: crash+restart output differs from the uninterrupted run")
  }

  test("windowed agg → parquet sink: crash+restart output equals the uninterrupted run") {
    recoveryHolds("window")
  }

  test("streaming dedup kind=exact: crash+restart digest output equals the uninterrupted run") {
    recoveryHolds("dedup_exact")
  }

  // band-claim kinds: WHICH row owns a band is arrival-ordered, so the
  // drill sinks the band projection (the StreamFuzz sound gate) and
  // the row compare is the claimed-band multiset compare
  fullTest("streaming dedup kind=minhash: crash+restart band set equals the uninterrupted run") {
    recoveryHolds("dedup_minhash")
  }

  fullTest("streaming dedup kind=embed: crash+restart band set equals the uninterrupted run") {
    recoveryHolds("dedup_embed")
  }

  // restart × disorder intersection: crash and recover mid-DISORDERED
  // replay (DisorderFuzz layouts). On the late layout the crash lands
  // before the beyond-budget holdout file, so the holdout's drop is
  // decided by the watermark RECOVERED from the offset log.
  fullTest("windowed agg over bounded disorder: crash+restart equals the uninterrupted run") {
    recoveryHolds("window_jitter")
  }

  fullTest("windowed agg with a beyond-budget late file after the crash point: recovered watermark drops it identically") {
    recoveryHolds("window_late")
  }
}
