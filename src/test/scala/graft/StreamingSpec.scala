package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{LocalCheckpointFiles, Streaming}

/** The "same plan over readStream" contract (SURVEY §2.3): a PQL query
  * compiled once runs over a streaming source and produces exactly the
  * batch results, and watermarked windows finalize for append mode.
  */
class StreamingSpec extends SparkTestBase {

  import SparkTestBase.spark.implicits._

  private def ts(minute: Int): Timestamp = Timestamp.valueOf(f"2026-01-01 10:$minute%02d:00")

  private val rows = Seq(
    (ts(0), "click", 1.0),
    (ts(1), "click", 2.0),
    (ts(2), "purchase", 10.0),
    (ts(16), "click", 3.0),
    (ts(17), "purchase", 20.0),
    (ts(31), "click", 4.0)
  )

  private val pql =
    """ev | where value > 1.5
      | | summarize n = count(), total = sum(value) by event_type""".stripMargin

  test("PQL summarize over a memory stream matches the batch result") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val streamDf = ms.toDF.toDF("ts", "event_type", "value")

    // ONE compile path: the catalog decides batch vs stream.
    val streaming = Streaming.query(spark, pql, Map("ev" -> streamDf))
    assert(streaming.isStreaming)
    val q = Streaming.runToMemory(streaming, "stream_agg", "complete")
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3))
      q.processAllAvailable()

      val got = spark.table("stream_agg")
        .select("event_type", "n", "total").as[(String, Long, Double)].collect().toSet
      val batchDf = rows.toDF("ts", "event_type", "value")
      val want = Pql.query(spark, pql, Map("ev" -> batchDf))
        .select("event_type", "n", "total").as[(String, Long, Double)].collect().toSet
      assert(got == want)
      assert(got == Set(("click", 3L, 9.0), ("purchase", 2L, 30.0)))
    } finally q.stop()
  }

  test("watermarked 15m windows finalize for append mode") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val streamDf = Streaming.withEventTime(ms.toDF.toDF("ts", "event_type", "value"), "ts", "5 minutes")

    val agg = streamDf
      .groupBy(Streaming.binWindow(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total"))
      .select(col("w.start").as("tb"), col("event_type"), col("n"), col("total"))

    val q = Streaming.runToMemory(agg, "stream_windowed", "append")
    try {
      ms.addData(rows.take(3)) // minutes 0..2 → window [10:00, 10:15)
      q.processAllAvailable()
      ms.addData(rows.drop(3)) // minute 31 advances watermark past 10:15
      q.processAllAvailable()

      val got = spark.table("stream_windowed")
        .select("tb", "event_type", "n", "total").as[(Timestamp, String, Long, Double)]
        .collect().toSet
      // only the first window is finalized (watermark 31-5=26 > 15)
      assert(got == Set((ts(0), "click", 2L, 3.0), (ts(0), "purchase", 1L, 10.0)))
    } finally q.stop()
  }

  test("PQL bin() group key compiles to a native window: append mode works") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val streamDf = Streaming.withEventTime(ms.toDF.toDF("ts", "event_type", "value"), "ts", "5 minutes")

    val agg = Streaming.query(
      spark,
      """ev | summarize n = count() by tb = bin(ts, "15m"), event_type""",
      Map("ev" -> streamDf)
    )
    val q = Streaming.runToMemory(agg, "stream_pql_append", "append")
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("stream_pql_append")
        .select("tb", "event_type", "n").as[(Timestamp, String, Long)].collect().toSet
      assert(got == Set((ts(0), "click", 2L), (ts(0), "purchase", 1L)))
    } finally q.stop()

    // batch output schema unchanged by the rewrite: same query on a
    // static frame yields identical column names and values
    val batch = Pql.query(
      spark,
      """ev | summarize n = count() by tb = bin(ts, "15m"), event_type""",
      Map("ev" -> rows.toDF("ts", "event_type", "value"))
    )
    assert(batch.columns.toSeq == Seq("tb", "event_type", "n"))
    assert(batch.filter($"tb" === ts(0)).count() == 2)
  }

  test("distinct-form summarize by bin() also gets bounded window state") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val streamDf = Streaming.withEventTime(ms.toDF.toDF("ts", "event_type", "value"), "ts", "5 minutes")
    val agg = Streaming.query(
      spark,
      """ev | summarize by tb = bin(ts, "15m"), event_type""",
      Map("ev" -> streamDf)
    )
    val q = Streaming.runToMemory(agg, "stream_pql_distinct", "append")
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3))
      q.processAllAvailable()
      val got = spark.table("stream_pql_distinct")
        .select("tb", "event_type").as[(Timestamp, String)].collect().toSet
      assert(got == Set((ts(0), "click"), (ts(0), "purchase")))
    } finally q.stop()
  }

  test("parquet file sink: finalized windows land as committed files, exactly once") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String, Double)]
    val streamDf = Streaming.withEventTime(ms.toDF.toDF("ts", "event_type", "value"), "ts", "5 minutes")
    val agg = streamDf
      .groupBy(Streaming.binWindow(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count("*").as("n"))
      .select(col("w.start").as("tb"), col("event_type"), col("n"))

    val base = java.nio.file.Files.createTempDirectory("graft_fsink").toString
    val q = Streaming.runToParquet(agg, s"$base/out", s"$base/ckpt")
    try {
      ms.addData(rows.take(3))
      q.processAllAvailable()
      ms.addData(rows.drop(3)) // advances the watermark past the first window
      q.processAllAvailable()
    } finally q.stop()

    // read back THROUGH Spark so _spark_metadata filtering applies:
    // only committed files count, and the finalized window is complete
    val got = spark.read.parquet(s"$base/out")
      .select("tb", "event_type", "n").as[(Timestamp, String, Long)].collect().toSet
    assert(got == Set((ts(0), "click", 2L), (ts(0), "purchase", 1L)))
  }

  test("streaming exact dedup drops within-watermark duplicates across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, String)]
    val out = Streaming.dedupExact(ms.toDF.toDF("ts", "text"), "text", "ts", "5 minutes")
    assert(out.isStreaming)
    val q = Streaming.runToMemory(out, "stream_dedup", "append")
    try {
      ms.addData(Seq((ts(0), "a b c"), (ts(1), "A  b C"), (ts(2), "unique x")))
      q.processAllAvailable()
      // second batch: a duplicate (same normalized digest) within the
      // watermark window, plus a fresh doc
      ms.addData(Seq((ts(3), "a  B c"), (ts(4), "new y")))
      q.processAllAvailable()
      val got = spark.table("stream_dedup").select("text").as[String].collect().toSet
      assert(got == Set("a b c", "unique x", "new y"))
    } finally q.stop()
  }

  test("streaming minhash band state: novel docs keep all bands, near-dups lose collided ones") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val out = Streaming.dedupMinhashBands(
      ms.toDF.toDF("ts", "doc_id", "text"), "text", "ts", "5 minutes", k = 32, bandRows = 2)
    assert(out.isStreaming)
    val q = Streaming.runToMemory(out, "stream_bands", "append")
    try {
      ms.addData(Seq((ts(0), 1L, "the quick brown fox jumps over the lazy dog")))
      q.processAllAvailable()
      // batch 2: a near-duplicate (one word changed) and an unrelated doc
      ms.addData(Seq(
        (ts(1), 2L, "the quick brown fox jumps over the lazy cat"),
        (ts(2), 3L, "completely different text with no overlap at all whatsoever")
      ))
      q.processAllAvailable()
      val claims = spark.table("stream_bands")
        .select("doc_id").as[Long].collect().groupBy(identity).view.mapValues(_.length).toMap
      val nBands = 32 / 2
      assert(claims(1L) == nBands) // first arrival claims everything
      assert(claims(3L) == nBands) // unrelated: no collisions
      assert(claims.getOrElse(2L, 0) < nBands, claims.toString) // near-dup lost ≥1 band
      assert(claims.getOrElse(2L, 0) > 0) // but is not an exact dup
    } finally q.stop()
  }

  test("streaming embed band state: first arrival claims bands, near-dup vector loses them") {
    implicit val ctx = spark.sqlContext
    val dim = 8
    // v2 ≈ v1 (tiny perturbation → same sign pattern on every plane);
    // v3 = −v1 (opposite signs → different band keys almost surely)
    val v1 = Array.tabulate(dim)(i => math.sin(i + 1.0))
    val v2 = v1.map(_ * 1.01)
    val v3 = v1.map(-_)
    val ms = MemoryStream[(Timestamp, Long, Seq[Double])]
    val out = Streaming.dedupEmbedBands(
      ms.toDF.toDF("ts", "vec_id", "embedding"), "embedding", "ts", "5 minutes",
      dim = dim, planes = 32, bandBits = 8)
    assert(out.isStreaming)
    val q = Streaming.runToMemory(out, "stream_embed_bands", "append")
    try {
      ms.addData(Seq((ts(0), 1L, v1.toSeq)))
      q.processAllAvailable()
      ms.addData(Seq((ts(1), 2L, v2.toSeq), (ts(2), 3L, v3.toSeq)))
      q.processAllAvailable()
      val claims = spark.table("stream_embed_bands")
        .select("vec_id").as[Long].collect().groupBy(identity).view.mapValues(_.length).toMap
      assert(claims(1L) == 4) // 32/8 → 4 bands, all claimed by first arrival
      assert(claims.getOrElse(2L, 0) == 0, claims.toString) // identical sign sig: every band lost
      assert(claims(3L) == 4) // opposite vector: no collisions
      // band keys are bit-identical to the batch path's signature bands
      val batch = graft.ops.NearDup.rowEmbedBandRows(
        Seq((1L, v1.toSeq), (3L, v3.toSeq)).toDF("vec_id", "embedding"),
        "embedding", dim, planes = 32, bandBits = 8)
        .select("band_idx", "band_key").as[(Int, Long)].collect().toSet
      val streamed = spark.table("stream_embed_bands")
        .select("band_idx", "band_key").as[(Int, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("PQL | dedup over a stream: watermarked state for exact/minhash/embed, spanned errors for the rest") {
    implicit val ctx = spark.sqlContext
    import graft.compiler.PqlCompileException
    val ms = MemoryStream[(Timestamp, Long, String)]
    val wm = Streaming.withEventTime(ms.toDF.toDF("ts", "doc_id", "text"), "ts", "5 minutes")
    val cat = Map("D" -> wm)

    // minhash kind → first-arrival band claims, bit-identical band
    // keys to the library/batch form
    val viaPql = Pql.query(spark, "D | dedup kind=minhash text by doc_id | project band_idx, band_key", cat)
    assert(viaPql.isStreaming)
    val q = Streaming.runToMemory(viaPql, "pql_stream_bands", "append")
    try {
      ms.addData(Seq((ts(0), 1L, "the quick brown fox"), (ts(1), 2L, "another unrelated doc")))
      q.processAllAvailable()
      val got = spark.table("pql_stream_bands")
        .select("band_idx", "band_key").as[(Int, String)].collect().toSet
      val batch = graft.ops.NearDup.rowBandRows(
        Seq((1L, "the quick brown fox"), (2L, "another unrelated doc")).toDF("doc_id", "text"),
        "text", k = 32, bandRows = 2)
        .select("band_idx", "band_key").as[(Int, String)].collect().toSet
      assert(got == batch && got.nonEmpty)
    } finally q.stop()

    // exact kind compiles to the digest state form and stays streaming
    val viaExact = Pql.query(spark, "D | dedup text by doc_id", cat)
    assert(viaExact.isStreaming)
    assert(viaExact.columns.toSeq == Seq("ts", "doc_id", "text")) // full rows, digest dropped

    // kinds without a bounded-state streaming contract: spanned errors
    for (k <- Seq("semantic", "simhash", "lines", "substrings")) {
      val e = intercept[PqlCompileException](Pql.query(spark, s"D | dedup kind=$k text by doc_id", cat))
      assert(e.getMessage.contains("not available on a streaming input"), e.getMessage)
    }
    // the adaptive/rescore options are batch-only for embed on a stream
    val e2 = intercept[PqlCompileException](
      Pql.query(spark, "D | dedup kind=embed dim=8 occupancy=64 text by doc_id", cat))
    assert(e2.getMessage.contains("occupancy"), e2.getMessage)
    // the fixed geometry (32/8 unless given) passes the batch form's
    // range checks: spanned compile errors, not a raw require from the op
    for ((opts, msg) <- Seq(
        "planes=63" -> "option planes must be in [1, 62]",
        "bits=70" -> "option bits must be in [1, 62]",
        "planes=4 bits=8" -> "one band minimum")) {
      val q = s"D | dedup kind=embed dim=8 $opts text by doc_id"
      val e = intercept[PqlCompileException](Pql.query(spark, q, cat))
      assert(e.getMessage.contains(msg) && e.span.isValid, e.getMessage)
    }
    // sample budget= needs a plan-time count: rejected on a stream
    val e3 = intercept[PqlCompileException](
      Pql.query(spark, "D | sample budget=100 text by doc_id, doc_id", cat))
    assert(e3.getMessage.contains("streaming"), e3.getMessage)
    // ann indexes a bounded corpus (plan-time count, broadcast query
    // side): rejected on a stream with a span
    val e5 = intercept[PqlCompileException](
      Pql.query(spark, "D | ann (D) on text by doc_id", cat))
    assert(e5.getMessage.contains("streaming"), e5.getMessage)

    // a streaming input WITHOUT a watermark is a compile error with a
    // span, not an AnalysisException at query start
    val noWm = Map("D" -> ms.toDF.toDF("ts", "doc_id", "text"))
    val e4 = intercept[PqlCompileException](Pql.query(spark, "D | dedup text by doc_id", noWm))
    assert(e4.getMessage.contains("watermark"), e4.getMessage)
  }

  test("extend/project COPY of the event-time column keeps stateful ops runnable (StreamFuzz seed 36)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val wm = Streaming.withEventTime(ms.toDF.toDF("ts", "doc_id", "text"), "ts", "5 minutes")
    val cat = Map("D" -> wm)

    // an aliased COPY of the watermarked column inherits its metadata
    // (two event-time columns → Spark aborts the stateful op at run
    // time); the compiler strips the copy, keeping the source column's
    // watermark — the same query in batch is unaffected
    val copied = Pql.query(spark, "D | extend t2 = ts | dedup kind=exact text by doc_id", cat)
    val wmCols = copied.schema.fields
      .filter(_.metadata.contains("spark.watermarkDelayMs")).map(_.name).toSeq
    assert(wmCols == Seq("ts"), s"watermark columns: $wmCols")
    val q = Streaming.runToMemory(copied, "ev_copy_dedup", "append")
    try {
      ms.addData(Seq((ts(0), 1L, "a doc"), (ts(1), 2L, "a doc")))
      q.processAllAvailable()
      assert(spark.table("ev_copy_dedup").count() == 1) // dup dropped, t2 rode through
    } finally q.stop()

    // a RENAME (source dropped) keeps the metadata on the alias: the
    // renamed column still drives append-mode windowed aggregation
    val renamed = Pql.query(spark,
      """D | project doc_id, t2 = ts | summarize n = count() by w = bin(t2, "15m")""", cat)
    assert(renamed.isStreaming)
    val q2 = Streaming.runToMemory(renamed, "ev_rename_win", "append")
    try {
      ms.addData(Seq((ts(2), 3L, "x"), (ts(3), 4L, "y")))
      q2.processAllAvailable()
      ms.addData(Seq((ts(59), 5L, "z"))) // watermark past the first window
      q2.processAllAvailable()
      assert(spark.table("ev_rename_win").count() >= 1)
    } finally q2.stop()
  }

  test("COPY-then-drop-original keeps the copy's watermark until the stateful op (r19)") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[(Timestamp, Long, String)]
    val wm = Streaming.withEventTime(ms.toDF.toDF("ts", "doc_id", "text"), "ts", "5 minutes")
    val cat = Map("D" -> wm)

    // `extend t2 = ts | project t2, …` copies the event-time column
    // and then drops the ORIGINAL: no stateful operator runs while
    // both are in flight, so the copy must keep its inherited
    // watermark (an eager strip at extend would leave the stream with
    // NO event-time column here and the windowed agg would abort) —
    // this is the pattern the r18 eager fix broke (ADVICE r18 medium)
    val q = Pql.query(spark,
      """D | extend t2 = ts | project t2, doc_id
        | | summarize n = count() by w = bin(t2, "15m")""".stripMargin, cat)
    assert(q.isStreaming)
    val run = Streaming.runToMemory(q, "ev_copy_drop_win", "append")
    try {
      ms.addData(Seq((ts(2), 1L, "a"), (ts(3), 2L, "b")))
      run.processAllAvailable()
      ms.addData(Seq((ts(59), 3L, "c"))) // watermark past the first window
      run.processAllAvailable()
      val rows = spark.table("ev_copy_drop_win").collect()
      assert(rows.map(_.getLong(1)).sum >= 2, rows.mkString(","))
    } finally run.stop()

    // …and when BOTH the copy and the original reach the stateful op,
    // the one the window binds to survives — binding to the COPY works
    // even though the original is also still in flight
    val q2 = Pql.query(spark,
      """D | extend t2 = ts
        | | summarize n = count() by w = bin(t2, "15m")""".stripMargin, cat)
    val run2 = Streaming.runToMemory(q2, "ev_copy_both_win", "append")
    try {
      ms.addData(Seq((ts(4), 4L, "d")))
      run2.processAllAvailable()
      ms.addData(Seq((ts(58), 5L, "e")))
      run2.processAllAvailable()
      assert(spark.table("ev_copy_both_win").count() >= 1)
    } finally run2.stop()
  }

  test("PQL | dedup kind=embed over a stream: band set equals the library/batch form (round 15)") {
    implicit val ctx = spark.sqlContext
    val dim = 8
    val v1 = Array.tabulate(dim)(i => if (i % 2 == 0) 1.0 else -1.0)
    val v3 = v1.map(-_)
    val ms = MemoryStream[(Timestamp, Long, Seq[Double])]
    val wm = Streaming.withEventTime(
      ms.toDF.toDF("ts", "vec_id", "embedding"), "ts", "5 minutes")
    val cat = Map("E" -> wm)
    val viaPql = Pql.query(spark,
      s"E | dedup kind=embed dim=$dim embedding by vec_id | project band_idx, band_key", cat)
    assert(viaPql.isStreaming)
    val q = Streaming.runToMemory(viaPql, "pql_stream_embed_bands", "append")
    try {
      ms.addData(Seq((ts(0), 1L, v1.toSeq), (ts(1), 3L, v3.toSeq)))
      q.processAllAvailable()
      val got = spark.table("pql_stream_embed_bands")
        .select("band_idx", "band_key").as[(Int, Long)].collect().toSet
      val batch = graft.ops.NearDup.rowEmbedBandRows(
        Seq((1L, v1.toSeq), (3L, v3.toSeq)).toDF("vec_id", "embedding"),
        "embedding", dim, planes = 32, bandBits = 8)
        .select("band_idx", "band_key").as[(Int, Long)].collect().toSet
      assert(got == batch && got.nonEmpty)
    } finally q.stop()
  }


  // ---- checkpoint files: LocalCheckpointFiles under runToParquet ----

  /** File `i` of a file-source input: five events in minutes
    * [20i, 20i + 5), so each trigger's file moves the watermark past the
    * window of the file before it.
    */
  private def writeEvents(in: String, i: Int): Unit = {
    Files.createDirectories(Paths.get(in))
    val lines = (0 until 5).map { j =>
      val t = ts(0).toLocalDateTime.plusMinutes(20L * i + j)
        .format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
      s"""{"ts":"$t","event_type":"${if (j % 2 == 0) "click" else "view"}","value":${i * 10 + j}.5}"""
    }
    Files.write(Paths.get(in, f"ev_$i%03d.json"), (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  private def windowedCounts(in: String): DataFrame =
    Streaming.withEventTime(
      spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", "1").json(in), "ts", "5 minutes")
      .groupBy(Streaming.binWindow(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count("*").as("n"), sum("value").as("total"))
      .select(col("w.start").as("tb"), col("event_type"), col("n"), col("total"))

  /** Drain `in` through `runToParquet` into `base/out` with checkpoint
    * `base/ckpt`; the batch ids this run committed.
    */
  private def drain(in: String, base: String): Seq[Long] = {
    val q = Streaming.runToParquet(windowedCounts(in), s"$base/out", s"$base/ckpt")
    try q.processAllAvailable()
    finally q.stop()
    q.recentProgress.filter(_.durationMs.containsKey("addBatch")).map(_.batchId).toSeq
  }

  private def committed(base: String): Seq[(Timestamp, String, Long, Double)] =
    spark.read.parquet(s"$base/out").select("tb", "event_type", "n", "total")
      .as[(Timestamp, String, Long, Double)].collect().toSeq.sortBy(r => (r._1.getTime, r._2))

  /** Run `body` with the session naming `manager` (None: naming none),
    * then restore what the session named before.
    */
  private def withManager[T](manager: Option[String])(body: => T): T = {
    val key = LocalCheckpointFiles.ConfKey
    val before = spark.conf.getOption(key)
    manager.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body
    finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private val fileContextManager = classOf[FileContextBasedCheckpointFileManager].getName

  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val root = Files.createTempDirectory(prefix)
    try body(root.toString)
    finally {
      val walk = Files.walk(root)
      try walk.iterator.asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }
  }

  test("checkpoint files start no OS process: no spawned command names the checkpoint directory") {
    withTempDir("graft_spawns") { base =>
      (0 until 4).foreach(writeEvents(s"$base/in", _))
      val control = "graft-spawn-control"
      val rec = new Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      val batches =
        try {
          // a spawn of our own proves the recording sees process starts
          new ProcessBuilder("echo", control).start().waitFor()
          withManager(None)(drain(s"$base/in", base))
        } finally rec.stop()
      val jfr = Paths.get(base, "spawns.jfr")
      rec.dump(jfr)
      rec.close()
      val commands = RecordingFile.readAllEvents(jfr).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart").map(_.getString("command"))
      assert(batches.size >= 3, batches)
      assert(commands.exists(_.contains(control)), commands.take(5))
      val ckpt = Seq(s"$base/ckpt", new java.io.File(s"$base/ckpt").getCanonicalPath)
      val underCkpt = commands.filter(c => ckpt.exists(c.contains))
      assert(underCkpt.isEmpty, s"${underCkpt.size} spawns, e.g. ${underCkpt.take(3).mkString("; ")}")
    }
  }

  test("a checkpoint started by Spark's FileContext manager resumes through runToParquet exactly once") {
    withTempDir("graft_ckpt_compat") { base =>
      val (in, resumed, whole) = (s"$base/in", s"$base/resumed", s"$base/whole")
      (0 until 2).foreach(writeEvents(in, _))
      val before = withManager(Some(fileContextManager))(drain(in, resumed))
      (2 until 5).foreach(writeEvents(in, _))
      val after = withManager(None)(drain(in, resumed))
      assert(before.nonEmpty && after.nonEmpty && after.min > before.max, (before, after)) // resumed
      withManager(None)(drain(in, whole))
      val got = committed(resumed)
      assert(got.nonEmpty && got == committed(whole))
    }
  }

  test("a corrupt committed offsets file fails the restart with Hadoop's ChecksumException") {
    withTempDir("graft_ckpt_crc") { base =>
      val in = s"$base/in"
      (0 until 3).foreach(writeEvents(in, _))
      val last = withManager(None)(drain(in, base)).max
      val offsets = Paths.get(base, "ckpt", "offsets", last.toString)
      assert(Files.exists(Paths.get(base, "ckpt", "offsets", s".$last.crc")))
      val bytes = Files.readAllBytes(offsets)
      bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
      Files.write(offsets, bytes, StandardOpenOption.TRUNCATE_EXISTING)
      writeEvents(in, 3)
      for (_ <- 1 to 2) { // the corrupt file stays put: a second restart fails the same way
        val e = intercept[Exception](withManager(None)(drain(in, base)))
        val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
        assert(causes.exists(_.isInstanceOf[ChecksumException]), causes.map(_.toString).mkString("\n"))
        assert(Files.exists(offsets))
      }
    }
  }

  test("a session that names its own checkpoint file manager keeps it") {
    withTempDir("graft_ckpt_own") { base =>
      (0 until 2).foreach(writeEvents(s"$base/in", _))
      val own = classOf[CountingCheckpointFiles].getName
      val before = CountingCheckpointFiles.made.get
      withManager(Some(own)) {
        drain(s"$base/in", base)
        assert(spark.conf.get(LocalCheckpointFiles.ConfKey) == own)
      }
      assert(CountingCheckpointFiles.made.get > before)
    }
  }

  test("checkpoint files and their .crc side files keep the names and permissions Spark's default writes") {
    withTempDir("graft_ckpt_perms") { base =>
      val in = s"$base/in"
      (0 until 3).foreach(writeEvents(in, _))
      withManager(Some(fileContextManager))(drain(in, s"$base/spark"))
      withManager(None)(drain(in, s"$base/graft"))
      def tree(ckpt: String): Map[String, String] = {
        val root = Paths.get(ckpt)
        val walk = Files.walk(root)
        try walk.iterator.asScala.filter(_ != root).map { f =>
          root.relativize(f).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
        }.toMap
        finally walk.close()
      }
      val graftTree = tree(s"$base/graft/ckpt")
      assert(graftTree == tree(s"$base/spark/ckpt"))
      val deltas = graftTree.filter { case (f, _) => f.startsWith("state/") && f.endsWith("1.delta") }
      assert(deltas.nonEmpty && deltas.values.forall(_ == "rw-r--r--"), deltas)
      assert(deltas.keys.forall { f =>
        val delta = new Path(f)
        graftTree.contains(s"${delta.getParent}/.${delta.getName}.crc")
      })
    }
  }

  private implicit def mapAsCatalog(m: Map[String, org.apache.spark.sql.DataFrame]): String => org.apache.spark.sql.DataFrame =
    name => m.getOrElse(name, sys.error(s"unknown table $name"))
}

/** A checkpoint file manager a session may name: counts its instances. */
class CountingCheckpointFiles(path: Path, conf: Configuration)
    extends FileContextBasedCheckpointFileManager(path, conf) {
  CountingCheckpointFiles.made.incrementAndGet()
}

object CountingCheckpointFiles {
  val made = new AtomicInteger
}
