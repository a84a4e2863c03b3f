package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming state-store soak: runs the three gated streaming
  * workloads (windowed agg → parquet sink, exact dedup, MinHash band
  * dedup) over a MULTI-FILE, TIME-ORDERED copy of the input with
  * `maxFilesPerTrigger=1` — one micro-batch per file, so the watermark
  * advances between batches and state eviction actually happens (the
  * situation a 100 TB stream lives in; the single-batch gate entries
  * can't exercise it).
  *
  * For each workload it prints ONE JSON line with the max state rows /
  * state memory bytes across all micro-batches, total input/output
  * rows, and batch count. The claim under test: **state is bounded by
  * the watermark**, i.e. max state rows tracks the distinct keys
  * inside one lateness window, NOT the total keys in the run —
  * recorded in BASELINE.md.
  *
  * Usage: sbt "runMain graft.streaming.Soak <sfDir> [nFiles] [workloads]"
  * where [workloads] is an optional comma-list restricting the run
  * (e.g. `stream_dedup_embed`); default runs all eight (the five
  * library workloads plus the three grammar-compiled `pql_*` twins).
  */
object Soak {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nFiles = if (args.length > 1) args(1).toInt else 16
    val selected: Set[String] =
      if (args.length > 2) args(2).split(",").map(_.trim).toSet else Set.empty
    def wants(name: String): Boolean = selected.isEmpty || selected(name)
    val spark = graft.Sessions.local()
    val scratch = "/tmp/graft_soak_" + sfDir.replaceAll("[^A-Za-z0-9.]+", "_")
    Replay.wipe(scratch)

    // ---- time-ordered multi-file sources ---------------------------
    // file k holds the k-th event-time slice, so the per-file triggers
    // replay the stream in (approximate) event-time order — the shape a
    // real ingest has. Read via Tables: the source parquet carries
    // TIMESTAMP(NANOS) columns that a raw parquet read refuses; the
    // scratch copies below are Spark-written (micros), so the streams
    // read them raw.
    val t = graft.sources.Tables.parquetDir(spark, sfDir)
    val needsEvents = wants("events_windowed_fsink") || wants("sessions_capped")
    val needsDocs = wants("stream_dedup_exact") || wants("stream_dedup_minhash") ||
      wants("pql_stream_dedup") || wants("pql_stream_dedup_exact")
    if (needsEvents)
      Replay.writeTimeOrdered(t("events"), s"$scratch/events", nFiles)
    if (needsDocs)
      Replay.writeTimeOrdered(Replay.timed("documents", t("documents")), s"$scratch/docs", nFiles)
    if (wants("stream_dedup_embed") || wants("pql_stream_dedup_embed"))
      Replay.writeTimeOrdered(Replay.timed("embeddings", t("embeddings")), s"$scratch/embs", nFiles)

    def fileStream(path: String): DataFrame = Replay.fileStream(spark, path)

    // ---- soak runner: drain the stream, track state highwater ------
    def soak(name: String, outPath: String)(start: () => StreamingQuery): Unit = {
      // recentProgress is capped at 100 entries; nFiles stays far below
      val progress = Replay.drain(start())
      val states = progress.flatMap(_.stateOperators.toSeq)
      val maxRows = if (states.isEmpty) 0L else states.map(_.numRowsTotal).max
      val maxMem = if (states.isEmpty) 0L else states.map(_.memoryUsedBytes).max
      val inRows = progress.map(_.numInputRows).sum
      // the file sink reports -1 per batch; count the committed output
      val outRows = spark.read.parquet(outPath).count()
      println(
        s"""{"soak":"$name","batches":${progress.size},"input_rows":$inRows,""" +
          s""""output_rows":$outRows,"max_state_rows":$maxRows,"max_state_bytes":$maxMem}""")
    }

    // 1. windowed agg → parquet file sink (events_windowed_fsink shape)
    if (wants("events_windowed_fsink"))
    soak("events_windowed_fsink", s"$scratch/fsink_out") { () =>
      val agg = Streaming.withEventTime(fileStream(s"$scratch/events"), "ts", "10 minutes")
        .groupBy(Streaming.binWindow(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(col("w.start").as("hb"), col("event_type"), col("n"))
      Streaming.runToParquet(agg, s"$scratch/fsink_out", s"$scratch/fsink_ckpt")
    }

    // 2. streaming exact dedup (stream_dedup_exact shape)
    if (wants("stream_dedup_exact"))
    soak("stream_dedup_exact", s"$scratch/sde_out") { () =>
      val deduped = Streaming.dedupExact(fileStream(s"$scratch/docs"), "text", "ts", "1 hour")
        .select(md5(graft.ops.TextOps.normalize(col("text")).cast("binary")).as("digest"))
      Streaming.runToParquet(deduped, s"$scratch/sde_out", s"$scratch/sde_ckpt")
    }

    // 2b. the GRAMMAR-COMPILED exact dedup (round 16): the same
    // `| dedup kind=exact` text the pql_stream_dedup_exact gate entry
    // compiles, replayed multi-batch — it must hold workload 2's
    // watermark-bounded digest-state contract, not just match it in
    // the single-batch gate. Digest projected outside the query text
    // (the op drops its internal digest column), same as the gate.
    if (wants("pql_stream_dedup_exact"))
    soak("pql_stream_dedup_exact", s"$scratch/pqlsdx_out") { () =>
      val cat = Replay.catalog("documents", Streaming.withEventTime(fileStream(s"$scratch/docs"), "ts", "1 hour"))
      val deduped = graft.Pql.query(spark, "documents | dedup kind=exact text by doc_id", cat)
        .select(md5(graft.ops.TextOps.normalize(col("text")).cast("binary")).as("digest"))
      Streaming.runToParquet(deduped, s"$scratch/pqlsdx_out", s"$scratch/pqlsdx_ckpt")
    }

    // 3. streaming MinHash band dedup (stream_dedup_minhash shape)
    if (wants("stream_dedup_minhash"))
    soak("stream_dedup_minhash", s"$scratch/sdm_out") { () =>
      val bands = Streaming
        .dedupMinhashBands(fileStream(s"$scratch/docs"), "text", "ts", "1 hour")
        .select(col("band_idx"), col("band_key"))
      Streaming.runToParquet(bands, s"$scratch/sdm_out", s"$scratch/sdm_ckpt")
    }

    // 3b. streaming EMBEDDING band dedup (stream_dedup_embed shape,
    // round 13): the rowwise PackedSignSig keeps the pre-state plan
    // stateless; state rows must track band keys inside one lateness
    // window, not the whole corpus's band space.
    if (wants("stream_dedup_embed"))
    soak("stream_dedup_embed", s"$scratch/sdemb_out") { () =>
      val bands = Streaming
        .dedupEmbedBands(fileStream(s"$scratch/embs"), "embedding", "ts", "1 hour", dim = 64)
        .select(col("band_idx"), col("band_key"))
      Streaming.runToParquet(bands, s"$scratch/sdemb_out", s"$scratch/sdemb_ckpt")
    }

    // 3c. the GRAMMAR-COMPILED minhash band dedup (round 15): the
    // same `| dedup` text the pql_stream_dedup gate entry compiles,
    // replayed multi-batch — the compiled plan must hold the same
    // watermark-bounded state contract as the library form it routes
    // to (workload 3), not just match it in a single batch.
    if (wants("pql_stream_dedup"))
    soak("pql_stream_dedup", s"$scratch/pqlsd_out") { () =>
      val cat = Replay.catalog("documents", Streaming.withEventTime(fileStream(s"$scratch/docs"), "ts", "1 hour"))
      val bands = graft.Pql.query(spark,
        "documents | dedup kind=minhash text by doc_id | project band_idx, band_key", cat)
      Streaming.runToParquet(bands, s"$scratch/pqlsd_out", s"$scratch/pqlsd_ckpt")
    }

    // 3d. the grammar-compiled EMBED band dedup (round 15 twin of 3b).
    if (wants("pql_stream_dedup_embed"))
    soak("pql_stream_dedup_embed", s"$scratch/pqlsde_out") { () =>
      val cat = Replay.catalog("embeddings", Streaming.withEventTime(fileStream(s"$scratch/embs"), "ts", "1 hour"))
      val bands = graft.Pql.query(spark,
        "embeddings | dedup kind=embed dim=64 embedding by vec_id | project band_idx, band_key", cat)
      Streaming.runToParquet(bands, s"$scratch/pqlsde_out", s"$scratch/pqlsde_ckpt")
    }

    // 4. capped sessions (sessions_capped shape): the one CUSTOM-state
    // path (flatMapGroupsWithState + event-time timeout) — the
    // likeliest state leak, previously proven only by single-batch
    // gates that never fire a timeout. State must stay bounded by the
    // keys active inside one gap window, not the total user count.
    if (wants("sessions_capped"))
    soak("sessions_capped", s"$scratch/sc_out") { () =>
      val sessions = Sessionize.cappedSessions(
        Streaming.withEventTime(fileStream(s"$scratch/events"), "ts", "10 minutes"),
        "user_id", "ts",
        gapMs = 30L * 60 * 1000,
        capMs = 60L * 60 * 1000
      ).toDF().select(col("key"), col("session_start"), col("session_end"), col("n_events"), col("capped"))
      Streaming.runToParquet(sessions, s"$scratch/sc_out", s"$scratch/sc_ckpt")
    }

    spark.stop()
  }
}
