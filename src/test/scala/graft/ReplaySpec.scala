package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.functions._

import graft.streaming.Replay

/** The one replay-and-drain module ([[graft.streaming.Replay]]): its
  * writer, reader and drain, and a guard that no copy of them comes
  * back under `src/main`.
  */
class ReplaySpec extends SparkTestBase {

  private def scratch(tag: String): String =
    Files.createTempDirectory(s"graft_replay_$tag").toString

  /** 200 documents with their synthetic event time, as 4 time-ordered parts. */
  private def fourParts(dir: String): Unit =
    Replay.writeTimeOrdered(
      Replay.timed("documents", spark.range(0, 200, 1, 3).toDF("doc_id")), dir, nFiles = 4)

  private def micros(path: String): Seq[Long] =
    spark.read.parquet(path).select(unix_micros(col("ts"))).collect().map(_.getLong(0)).toSeq

  test("a drained query that fails is stopped and its error surfaces") {
    val dir = scratch("fail")
    fourParts(dir)
    val failing = Replay.fileStream(spark, dir)
      .select(col("doc_id"), assert_true(col("doc_id") < 0, lit("replay drain boom")).as("ok"))
    val e = intercept[Exception](Replay.drain(failing, "append"))
    val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage).toSeq
    assert(messages.exists(m => m != null && m.contains("replay drain boom")), messages.mkString("\n"))
    assert(spark.streams.active.isEmpty, spark.streams.active.map(_.name).mkString(", "))
    Replay.wipe(dir)
  }

  test("writeTimeOrdered makes nFiles parts with ascending, disjoint ts ranges and mtimes in part order") {
    val dir = scratch("write")
    fourParts(dir)
    val parts = Replay.parts(dir)
    assert(parts.size == 4, parts)
    val perPart = parts.map(f => micros(f.getPath))
    assert(perPart.map(_.size).sum == 200)
    perPart.foreach(ts => assert(ts.nonEmpty && ts == ts.sorted, ts))
    perPart.sliding(2).foreach { case Seq(a, b) => assert(a.last < b.head, s"${a.last} !< ${b.head}") }
    val mtimes = parts.map(_.lastModified)
    assert(mtimes.sliding(2).forall { case Seq(a, b) => a < b }, mtimes)
    Replay.wipe(dir)
    assert(!new java.io.File(dir).exists())
  }

  test("fileStream replays one part per trigger, in part order") {
    val dir = scratch("read")
    fourParts(dir)
    val partSizes = Replay.parts(dir).map(f => micros(f.getPath).size.toLong)
    val drained = Replay.drain(Replay.fileStream(spark, dir).select(unix_micros(col("ts")).as("us")), "append")
    try {
      assert(drained.progress.filter(_.numInputRows > 0).map(_.numInputRows) == partSizes)
      // the memory sink keeps batches in arrival order
      val us = drained.table.collect().map(_.getLong(0)).toSeq
      assert(us.size == 200 && us == us.sorted)
    } finally drained.release()
    assert(!spark.catalog.tableExists(drained.sink))
    Replay.wipe(dir)
  }

  test("replay and drain have no copy under src/main outside Replay") {
    val root = new java.io.File("src/main/scala").toPath
    assert(Files.isDirectory(root), s"run from the repository root: no $root")
    val banned = Seq("processAllAvailable", "1700000000000000", "setLastModified",
      "maxFilesPerTrigger", "Files.walk")
    val sources = Using.resource(Files.walk(root))(_.iterator().asScala.toList)
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Replay.scala")
    assert(sources.size > 50, sources.size)
    val hits = sources.flatMap { p =>
      val code = Files.readString(p)
        .replaceAll("(?s)/\\*.*?\\*/", "")
        .replaceAll("(?m)(^|\\s)//.*$", "")
      banned.filter(code.contains).map(b => s"$p: $b")
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
