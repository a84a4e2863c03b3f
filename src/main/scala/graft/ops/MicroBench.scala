package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.streaming.Replay

/** Dev utility: targeted measurements of SparkEntry gate entries, for
  * finding which entry or stage dominates before optimizing. Bench
  * reports the end-to-end numbers; an A/B is the same `entry` run at
  * two commits.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ops.MicroBench <mode> ..."
  * with the modes listed in [[usage]].
  */
object MicroBench {

  private val usage =
    """usage: graft.ops.MicroBench <mode> [args]
      |  entry <name>...           one timed run per entry (2 warm-ups), sentinel-bracketed
      |  entryn <reps> <name>...   <reps> timed runs per entry, median + every run
      |  jobs <name>...            the entries as one cycle, three passes: each entry's Spark
      |                            jobs, and its codegen compiles in pass 1 (cold) and 3 (warm)
      |  finalplan [full] <name>...  node counts of the post-execution AQE plan
      |  streambench [nFiles]      streaming dedup wall time over nFiles triggers (default 8),
      |                            with per-trigger medians of the streaming layers""".stripMargin

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rest = args.drop(1).toSeq
    val n = rest.headOption.flatMap(_.toIntOption).filter(_ >= 1) // <reps> or [nFiles]
    val run: (SparkSession, String) => Unit = args.headOption match {
      case Some("entry")                    => entryn(_, _, 1, rest)
      case Some("entryn") if n.isDefined    => entryn(_, _, n.get, rest.tail)
      case Some("jobs")                     => jobs(_, _, rest)
      case Some("finalplan")                => finalplan(_, _, rest)
      case Some("streambench")              => streambench(_, _, n.getOrElse(8))
      case _ =>
        System.err.println(usage)
        sys.exit(2)
    }
    val spark = graft.Sessions.local()
    try run(spark, sfDir)
    finally spark.stop()
  }

  /** Runs `body` between two [[graft.Sentinel]] samples (same trust
    * marker as Bench), so a one-off measurement carries its own
    * evidence of whether the environment was degraded.
    */
  private def sentinelBracketed(spark: SparkSession, sfDir: String)(body: => Unit): Unit = {
    val sentinel = new graft.Sentinel(spark, sfDir)
    val s0 = sentinel.once()
    body
    val s1 = sentinel.once()
    println(f"sentinel $s0%.3f/$s1%.3f s (expected ${sentinel.expected}%.2f) " +
      s"degraded=${sentinel.degraded(Seq(s0, s1))}")
  }

  /** `entryn <reps> <name>...` (and `entry`, reps = 1): two warm-ups,
    * then `reps` timed noop-sink runs per entry; prints the median and
    * every run, for days when single runs swing 2-4× under a shared
    * VM's memory-compaction stalls.
    */
  private def entryn(spark: SparkSession, sfDir: String, reps: Int, names: Seq[String]): Unit =
    sentinelBracketed(spark, sfDir) {
      names.foreach { k =>
        def run(): Double = {
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(k)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        run(); run() // warm-up ×2 (codegen + C2)
        val ts = Seq.fill(reps)(run())
        val med = ts.sorted.apply(reps / 2)
        println(f"$k%-28s median $med%.3f s  runs ${ts.map(t => f"$t%.3f").mkString(" ")}")
      }
    }

  /** `jobs <name>...` — noise-immune PLAN-SHAPE metric: the number of
    * Spark jobs one execution of each entry launches (eager plan-time
    * jobs — counts, checkpoints, broadcasts-built-by-collect — plus the
    * final noop write). Wall time on a shared VM swings 2-4× under
    * memory-compaction stalls; the job count is a deterministic
    * property of the binary, so an optimization that deletes driver
    * jobs is verifiable in ONE run on any day. The listener bus is
    * drained around each counted run, so the count is exact.
    *
    * The listed entries run as one cycle, three passes in a row, the
    * way a closed loop over them does. Each line reports the entry's
    * jobs (pass 3, after file listing is cached) and its Janino
    * compiles with their summed milliseconds: cold in pass 1, warm in
    * pass 3. A warm compile is a codegen-cache miss: a class that the
    * rest of the cycle evicted (Spark's cache holds 100 entries in four
    * LRU segments of 25, so one segment can overflow while the cache is
    * not full) or whose source differs per call. The counters are JVM-wide, and in local
    * mode the tasks' compiles happen in this JVM too.
    */
  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      })
    // Spark's compile count and summed compile nanoseconds (both only grow)
    def compiled(): (Long, Long) =
      (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
    // one pass: per entry, its (jobs, compiles, compile ns)
    def pass(): Seq[(Int, Long, Long)] = names.map { k =>
      val (n0, ns0) = compiled()
      org.apache.spark.sql.graftglue.Bridge.drainListenerBus(spark)
      counter.set(0)
      graft.SparkEntry.queries(k)(spark, sfDir).write.format("noop").mode("overwrite").save()
      org.apache.spark.sql.graftglue.Bridge.drainListenerBus(spark)
      val (n1, ns1) = compiled()
      (counter.get(), n1 - n0, ns1 - ns0)
    }
    val cold = pass()
    pass()
    val warm = pass()
    def fmt(n: Long, ns: Long) = f"$n (${ns / 1e6}%.0f ms)"
    for ((k, ((_, cn, cns), (jobs, wn, wns))) <- names.zip(cold.zip(warm)))
      println(f"$k%-28s jobs $jobs  compiles cold ${fmt(cn, cns)} warm ${fmt(wn, wns)}")
    println(f"${"cycle"}%-28s compiles cold ${fmt(cold.map(_._2).sum, cold.map(_._3).sum)} " +
      s"warm ${fmt(warm.map(_._2).sum, warm.map(_._3).sum)}")
  }

  /** `finalplan [full] <name>...` — the POST-execution final AQE plan's
    * node counts (ReusedQueryStage / ReusedExchange / Exchange / scans /
    * joins). `.explain` before execution shows isFinalPlan=false and
    * hides runtime stage reuse, so plan-reuse claims (is a
    * twice-referenced subtree computed once?) need this view, not
    * PlanDump's. `full` also prints the plan.
    */
  private def finalplan(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    val full = args.contains("full")
    args.filterNot(_ == "full").foreach { k =>
      val df = graft.SparkEntry.queries(k)(spark, sfDir)
      // collect(), NOT a noop write: df.write builds a NEW
      // QueryExecution for the write command, leaving df's own plan
      // unexecuted (isFinalPlan=false, runtime reuse invisible)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(p).length
      println(f"$k%-24s ReusedQueryStage=${n("ReusedQueryStage")} ReusedExchange=${n("ReusedExchange")} " +
        s"Exchange=${n("Exchange")} scans=${n("Scan parquet")} smj=${n("SortMergeJoin")} " +
        s"shj=${n("ShuffledHashJoin")} bhj=${n("BroadcastHashJoin")} sortAgg=${n("SortAggregate")}")
      if (full) println(p)
    }
  }

  /** `streambench [nFiles]` — timing for the streaming dedup paths.
    * Splits the current SF's documents / embeddings into `nFiles`
    * parquet files, streams them through the REAL stateful pipelines
    * (watermark + dropDuplicatesWithinWatermark) one file per trigger
    * — N micro-batches through the memory sink, state accumulating
    * across batches exactly like production — and reports each run's
    * wall time from query start until [[Replay.drain]] returns (a fresh
    * query + sink per run: state never carries over between runs). 1 warm-up + 3 timed runs. Beside the
    * wall time it prints, from `recentProgress`, the per-trigger
    * medians of `durationMs` (`addBatch`, `walCommit`, `commitOffsets`,
    * `latestOffset`) and of the state commit time.
    */
  private def streambench(spark: SparkSession, sfDir: String, nFiles: Int): Unit =
    sentinelBracketed(spark, sfDir) {
      val base = "/tmp/graft_streambench"
      spark.read.parquet(s"$sfDir/documents.parquet")
        .repartition(nFiles).write.mode("overwrite").parquet(s"$base/docs")
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .repartition(nFiles).write.mode("overwrite").parquet(s"$base/emb")
      def docs(): DataFrame = Replay.timed("documents", Replay.fileStream(spark, s"$base/docs"))

      def timeStream(name: String)(mk: () => DataFrame): Unit = {
        def runOnce(): (Double, Seq[StreamingQueryProgress]) = {
          val df = mk()
          val t0 = System.nanoTime()
          val drained = Replay.drain(df, "append")
          val dt = (System.nanoTime() - t0) / 1e9
          drained.release()
          (dt, drained.progress)
        }
        runOnce() // warm-up (codegen + file listing)
        val rs = Seq.fill(3)(runOnce())
        val ts = rs.map(_._1)
        println(f"$name%-24s med=${ts.sorted.apply(1)}%.3f s  runs ${ts.map(t => f"$t%.3f").mkString(" ")}  " +
          s"batches=${rs.head._2.count(_.numInputRows > 0)}")
        // the streaming layers: per-trigger medians over the timed runs'
        // triggers that ran a batch
        val triggers = rs.flatMap(_._2).filter(_.durationMs.containsKey("addBatch"))
        def median(xs: Seq[Long]): Long = if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
        val layers = Seq("addBatch", "walCommit", "commitOffsets", "latestOffset").map { k =>
          k -> median(triggers.map(p => Option(p.durationMs.get(k)).fold(0L)(_.longValue)))
        } :+ ("stateCommit" -> median(triggers.map(_.stateOperators.map(_.commitTimeMs).sum)))
        println(f"${""}%-24s per-trigger median ms over ${triggers.size} triggers: " +
          layers.map { case (k, v) => s"$k=$v" }.mkString(" "))
      }

      timeStream("stream_dedup_exact") { () =>
        graft.streaming.Streaming.dedupExact(docs(), "text", "ts", "1 hour")
          .select(md5(TextOps.normalize(col("text")).cast("binary")).as("digest"))
      }
      timeStream("stream_dedup_minhash") { () =>
        graft.streaming.Streaming.dedupMinhashBands(docs(), "text", "ts", "1 hour")
          .select(col("band_idx"), col("band_key"))
      }
      timeStream("stream_dedup_embed") { () =>
        graft.streaming.Streaming.dedupEmbedBands(
          Replay.timed("embeddings", Replay.fileStream(spark, s"$base/emb")), "embedding", "ts", "1 hour", dim = 64
        ).select(col("band_idx"), col("band_key"))
      }
    }
}
