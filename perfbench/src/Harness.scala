package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, ExecutorService, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Pql, SparkEntry}
import graft.fuzz.PipelineGen
import graft.parser.{Lexer, Parser}
import graft.sources.Tables
import graft.streaming.Streaming

/** JVM side of the benchmark: drives graft through its public entry
  * points over inputs that `run.py` generated, writes every result to
  * parquet for the reference check, and writes one JSON record
  * of per-operation timings (and, traced, per-layer spans and counts).
  *
  * One client, closed loop: each operation starts when the previous one
  * has returned its last row. Untraced, operations run until their summed
  * wall time reaches `--seconds` and the current cycle of the workload's
  * operation list is complete. Traced, a fixed list runs once, each
  * operation twice (untraced and traced, the order alternating), so counts
  * repeat exactly and the pairs give the tracing overhead.
  *
  * Usage: perfbench.Harness <workload> <seed> <seconds> <trace 0|1>
  *          <dataDir> <workDir> <outJson> <table=rows,...> <type1,type2>
  * (the two event types are stream_window's filter; `-` elsewhere)
  */
object Harness {

  final case class Op(
      name: String,
      // "compiler" for PQL text, "ops" for library op thunks
      layer: String,
      ref: String,
      pql: Option[String],
      build: (SparkSession, String => DataFrame) => DataFrame
  )

  private var cores = 1
  var dataDir = ""
  private var workDir = ""
  private var tableRows = Map.empty[String, Long]
  private val timeoutSec = 60L

  def main(args: Array[String]): Unit = {
    val bootMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime
    val Array(workload, seedS, secondsS, traceS, data, work, outPath, rowsS, typesS) = args
    val seed = seedS.toLong
    val budgetMs = secondsS.toDouble * 1000
    val traced = traceS == "1"
    dataDir = data
    workDir = work
    tableRows = rowsS.split(",").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("="); k -> v.toLong
    }.toMap
    cores = Runtime.getRuntime.availableProcessors()
    val wl = Workloads(workload, seed, data, typesS.split(",").toSeq)

    val record = mutable.LinkedHashMap[String, Any]("jvm_boot_ms" -> bootMs)
    // ---- set-up: several rounds, each a fresh session, table loads, warm-up
    val rounds = mutable.ArrayBuffer[Double]()
    val loads = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (r <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session()
      val tl = System.nanoTime()
      wl.tables.foreach(t => Tables.parquetDir(spark, data)(t).schema)
      loads += ms(tl)
      wl.warmup(spark, r)
      rounds += ms(t0)
    }
    record("setup_rounds_s") = rounds.map(_ / 1000)
    record("load_ms") = loads

    val tracer = if (traced) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val exec = new Exec(spark, tracer)
    val recs = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val tStart = System.nanoTime()
    var opMs = 0.0
    var i = 0
    if (traced) {
      // fixed list, each op untraced and traced, order alternating
      wl.tracedOps.foreach { op =>
        val pair = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        val got = pair.map(t => t -> wl.run(exec, op, i, t)).toMap
        val rec = got(true)
        rec("untraced_wall_ms") = got(false)("wall_ms")
        rec("untraced_ok") = got(false)("ok")
        rec("untraced_out") = got(false).getOrElse("out", null)
        recs += rec
        i += 1
      }
    } else {
      val stream = wl.ops
      var more = true
      while (more && stream.hasNext) {
        val (op, cycleEnd) = stream.next()
        val rec = wl.run(exec, op, i, false)
        opMs += rec("wall_ms").asInstanceOf[Double]
        recs += rec
        i += 1
        // stop on a cycle boundary once the budget is spent; a hard cap
        // keeps a run inside its time limit however slow ops become
        if ((opMs >= budgetMs && cycleEnd) || ms(tStart) > 6 * budgetMs + 60000) more = false
      }
    }
    record("measure_s") = ms(tStart) / 1000
    writePending(spark)
    record("ops") = recs
    record("refs") = wl.refs
    record("facts") = wl.facts ++ Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_cores" -> cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt
    )
    spark.stop()
    exec.shutdown()
    record("peak_rss_mb") = vmHwmMb()
    Files.write(Paths.get(outPath), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
  }

  /** Runs one phase of an operation on a worker thread under a job group,
    * cancelling the group when the per-operation timeout passes.
    */
  final class Exec(val spark: SparkSession, val tracer: Option[Tracer]) {
    private var pool: ExecutorService = Executors.newSingleThreadExecutor()

    def apply[A](groups: Seq[String])(body: (String => Unit) => A): A = {
      val sc = spark.sparkContext
      val f = pool.submit(new Callable[A] {
        def call(): A = body(g => sc.setJobGroup(g, g, interruptOnCancel = true))
      })
      try f.get(timeoutSec, TimeUnit.SECONDS)
      catch {
        case e: TimeoutException =>
          groups.foreach(sc.cancelJobGroup)
          f.cancel(true)
          pool.shutdownNow()
          pool = Executors.newSingleThreadExecutor()
          throw e
        case e: java.util.concurrent.ExecutionException => throw e.getCause
      }
    }

    /** Counts of `group`, complete once the listener bus is drained. */
    def counts(group: String): Counts = tracer match {
      case Some(t) => Bus.drain(spark.sparkContext); t.take(group)
      case None => new Counts
    }

    def shutdown(): Unit = pool.shutdownNow()
  }

  /** Node and exchange counts of the executed physical plan, read after
    * execution so they include the stages adaptive execution settled on.
    */
  object PlanShape extends AdaptiveSparkPlanHelper {
    def apply(p: SparkPlan): (Int, Int) = {
      var nodes = 0
      var exchanges = 0
      foreach(p) { n =>
        nodes += 1
        if (n.isInstanceOf[Exchange]) exchanges += 1
      }
      (nodes, exchanges)
    }
  }

  def errorName(e: Throwable): String = e.getClass.getSimpleName

  def countsMap(prefix: String, c: Counts): Map[String, Any] = Map(
    s"${prefix}jobs" -> c.jobs, s"${prefix}job_ms" -> c.jobMs, s"${prefix}stages" -> c.stages,
    s"${prefix}tasks" -> c.tasks, s"${prefix}task_cpu_ms" -> c.taskCpuNs / 1e6,
    s"${prefix}task_run_ms" -> c.taskRunMs, s"${prefix}task_wait_ms" -> c.taskWaitMs,
    s"${prefix}gc_ms" -> c.gcMs, s"${prefix}input_rows" -> c.inputRows,
    s"${prefix}input_bytes" -> c.inputBytes, s"${prefix}shuffle_read_bytes" -> c.shuffleReadBytes,
    s"${prefix}shuffle_write_bytes" -> c.shuffleWriteBytes, s"${prefix}spill_bytes" -> c.spillBytes,
    s"${prefix}result_bytes" -> c.resultBytes)

  /** Collected results waiting to be written for the reference check. */
  private val pending = mutable.ArrayBuffer[(Array[Row], StructType, String)]()

  /** Write the collected results to parquet, `cores` at a time, after the
    * measured loop so the writes never overlap a timed operation.
    */
  def writePending(spark: SparkSession): Unit = {
    val pool = Executors.newFixedThreadPool(cores)
    try {
      pending.toSeq.map { case (rows, schema, out) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            spark.sparkContext.setJobGroup("verify", "verify")
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.parquet(out)
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    pending.clear()
  }

  /** One batch operation: construct (PQL text or op thunk) → physical
    * plan → collect every row. The collected rows are then written to
    * parquet, outside the timed region, for the reference comparison.
    */
  def runBatch(ex: Exec, op: Op, idx: Int, traced: Boolean): mutable.LinkedHashMap[String, Any] = {
    val spark = ex.spark
    val rec = mutable.LinkedHashMap[String, Any]("i" -> idx, "name" -> op.name, "layer" -> op.layer,
      "ref" -> op.ref, "traced" -> traced)
    val g = s"op$idx${if (traced) "t" else "u"}"
    val groups = Seq(s"$g.b", s"$g.p", s"$g.x")
    var inRows = 0L
    val base = Tables.parquetDir(spark, dataDir)
    val catalog: String => DataFrame = { name => inRows += tableRows.getOrElse(name, 0L); base(name) }
    val started = System.nanoTime()
    try {
      val (rows, schema) = ex(groups) { setGroup =>
        if (traced) op.pql.foreach { text =>
          // the separate parse: Pql.query parses again inside, so this
          // probe is tracing cost, outside the operation's wall time
          rec("tokens") = Lexer.scan(text).size
          val tp = System.nanoTime()
          Parser.parse(text)
          rec("parse_ms") = ms(tp)
        }
        val t0 = System.nanoTime()
        setGroup(s"$g.b")
        val df = op.build(spark, catalog)
        val t1 = System.nanoTime()
        setGroup(s"$g.p")
        val qe = df.queryExecution
        val plan = qe.executedPlan
        val t2 = System.nanoTime()
        setGroup(s"$g.x")
        val rows = df.collect()
        val t3 = System.nanoTime()
        rec("wall_ms") = (t3 - t0) / 1e6
        rec("compile_ms") = (t2 - t0) / 1e6
        if (traced) {
          rec("build_span_ms") = (t1 - t0) / 1e6
          rec("plan_span_ms") = (t2 - t1) / 1e6
          rec("exec_span_ms") = (t3 - t2) / 1e6
          val tr = qe.tracker
          def phase(p: String): Long = tr.phases.get(p).map(_.durationMs).getOrElse(0L)
          rec("analyze_ms") = phase("analysis")
          rec("optimize_ms") = phase("optimization")
          rec("plan_ms") = phase("planning")
          rec("rules_effective") = tr.rules.values.map(_.numEffectiveInvocations).sum
          val (nodes, exchanges) = PlanShape(plan)
          rec("plan_nodes") = nodes
          rec("exchanges") = exchanges
        }
        (rows, df.schema)
      }
      rec("ok") = true
      rec("in_rows") = inRows
      rec("out_rows") = rows.length
      if (traced) {
        rec ++= countsMap("build.", ex.counts(s"$g.b"))
        rec ++= countsMap("plan.", ex.counts(s"$g.p"))
        rec ++= countsMap("exec.", ex.counts(s"$g.x"))
      }
      val out = s"$workDir/out/$g"
      pending += ((rows, schema, out))
      rec("out") = out
    } catch {
      case e: Throwable =>
        rec("ok") = false
        rec("error") = errorName(e)
        rec("message") = String.valueOf(e.getMessage).take(300)
        rec("wall_ms") = ms(started)
        groups.foreach(ex.counts)
    }
    rec
  }

  /** One streaming operation: the windowed events aggregation compiled by
    * `Streaming.query` over a `maxFilesPerTrigger=1` file stream, run
    * through the checkpointed parquet sink until every file is consumed.
    */
  def runStream(ex: Exec, in: String, types: (String, String), idx: Int, traced: Boolean,
      tag: String = "s"): mutable.LinkedHashMap[String, Any] = {
    val spark = ex.spark
    val rec = mutable.LinkedHashMap[String, Any]("i" -> idx, "name" -> "events_window_stream",
      "layer" -> "compiler", "ref" -> "stream", "traced" -> traced)
    val base = s"$workDir/stream/$tag$idx${if (traced) "t" else "u"}"
    val started = System.nanoTime()
    val text = s"""events | where event_type in ("${types._1}", "${types._2}")"""
    try {
      ex(Nil) { _ =>
        if (traced) {
          // the separate parse, as for batch operations: outside the wall
          rec("tokens") = Lexer.scan(text).size
          val tp = System.nanoTime()
          Parser.parse(text)
          rec("parse_ms") = ms(tp)
        }
        val t0 = System.nanoTime()
        val schema = spark.read.parquet(in).schema
        val src = Streaming.withEventTime(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(in),
          "ts", "10 minutes")
        val tc = System.nanoTime()
        val filtered = Streaming.query(spark, text, _ => src)
        rec("build_span_ms") = ms(tc)
        val agg = filtered
          .groupBy(Streaming.binWindow(col("ts"), "15 minutes").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            (sum(round(col("value") * 100).cast("long")).cast("double") / 100.0).as("total"))
          .select(unix_seconds(col("w.start")).as("ts_bucket"), col("event_type"), col("n"), col("total"))
        val q = Streaming.runToParquet(agg, s"$base/out", s"$base/ckpt")
        try q.processAllAvailable()
        finally q.stop()
        rec("wall_ms") = ms(t0)
        val progress = q.recentProgress.toSeq
        rec("in_rows") = progress.map(_.numInputRows).sum
        rec("triggers") = progress.map { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
          val st = p.stateOperators.headOption
          d ++ Map(
            "input_rows" -> p.numInputRows,
            "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
            "state_memory_bytes" -> st.map(_.memoryUsedBytes).getOrElse(0L),
            "state_commit_ms" -> st.map(_.commitTimeMs).getOrElse(0L))
        }
        if (traced) rec ++= countsMap("exec.", ex.counts(q.runId.toString))
      }
      rec("ok") = true
      rec("out") = s"$base/out"
    } catch {
      case e: Throwable =>
        rec("ok") = false
        rec("error") = errorName(e)
        rec("message") = String.valueOf(e.getMessage).take(300)
        rec("wall_ms") = ms(started)
    }
    rec
  }
}

/** A workload: its tables, warm-up, operation stream and references. */
abstract class Workload {
  def tables: Seq[String]
  def warmup(spark: SparkSession, round: Int): Unit
  /** Untraced operation stream: (op, ends a cycle of the op list). */
  def ops: Iterator[(Harness.Op, Boolean)]
  def tracedOps: Seq[Harness.Op]
  def refs: collection.Map[String, String]
  def facts: Map[String, Any]
  def run(ex: Harness.Exec, op: Harness.Op, idx: Int, traced: Boolean): mutable.LinkedHashMap[String, Any] =
    Harness.runBatch(ex, op, idx, traced)

  /** `ops` with the last one marked as the end of a cycle. */
  protected def marked(ops: Seq[Harness.Op]): Seq[(Harness.Op, Boolean)] =
    ops.zipWithIndex.map { case (op, k) => op -> (k == ops.size - 1) }
}

object Workloads {
  import Harness.Op

  def apply(name: String, seed: Long, data: String, types: Seq[String]): Workload = name match {
    case "interactive" => new Interactive
    case "scan_x10" => new Scan(seed)
    case "ops_build" => new OpsBuild
    case "stream_window" => new StreamWindow(data, (types(0), types(1)))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private val tpch = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings")

  private def pqlOp(name: String, text: String, ref: String, params: Map[String, Column] = Map.empty): Op =
    Op(name, "compiler", ref, Some(text), (s, cat) => Pql.query(s, text, cat, params))

  private def collectAll(spark: SparkSession, op: Op): Unit =
    op.build(spark, Tables.parquetDir(spark, Harness.dataDir)).collect()

  /** Fuzz pipelines that have a DuckDB rendering, from generator seeds
    * 0, 1, 2, ... in blocks of `block`. The loop stops only at a block end,
    * so every run executes the same pipelines, each once: every query is new
    * text to the JVM that runs it, and the seed varies the data, not the mix
    * (a mix drawn per seed moves the median by more than any bound).
    */
  final class Interactive extends Workload {
    val refs = mutable.LinkedHashMap[String, String]()
    private def pipelines(from: Long): Iterator[Op] = Iterator.iterate(from)(_ + 1).flatMap { s =>
      val g = PipelineGen(s)
      g.duckSql.map { sql =>
        val key = s"gen_$s"
        refs(key) = sql
        pqlOp(key, g.pql, key)
      }
    }
    private def blocks: Iterator[Seq[Op]] =
      pipelines(0).grouped(Interactive.block).map(_.toSeq)
    def tables: Seq[String] = tpch
    // fixed pipelines, different in each round, none of them measured
    def warmup(spark: SparkSession, round: Int): Unit =
      pipelines(-1000L * (round + 1)).take(4).foreach(op => collectAll(spark, op))
    def ops: Iterator[(Op, Boolean)] = blocks.flatMap(marked)
    def tracedOps: Seq[Op] = blocks.next().take(Interactive.traced)
    def facts: Map[String, Any] = Map("block" -> Interactive.block)
  }
  object Interactive {
    val block = 40
    val traced = 24
  }

  /** The four headline queries with seeded literals passed as parameters. */
  final class Scan(seed: Long) extends Workload {
    private val rnd = new scala.util.Random(seed)
    private def day(from: String, span: Int): String =
      java.time.LocalDate.parse(from).plusDays(rnd.nextInt(span).toLong).toString
    // parameter ranges in the manner of TPC-H's (Q1: 60-120 days before a
    // fixed date; Q3: a day within one month), so the seed moves the
    // literals without moving each query's selectivity much
    private val cutoff = day("1998-08-03", 61)
    private val cutoff2 = day("1998-08-03", 61)
    private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    private val segment = segments(rnd.nextInt(segments.size))
    private val split = day("1998-03-01", 31)
    private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    private val region = regions(rnd.nextInt(regions.size))
    private val types = rnd.shuffle(Seq("click", "error", "purchase", "signup", "view")).take(2)

    private val q1Text =
        """lineitem | where l_shipdate <= todatetime(cutoff)
          | | summarize sum_qty = sum(l_quantity),
          |     sum_base = todouble(sum(tolong(round(l_extendedprice * 100)))) / 100.0,
          |     sum_disc_price = todouble(sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))) / 10000.0,
          |     sum_charge = todouble(sum(tolong(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000)))) / 1000000.0,
          |     avg_qty = sum(l_quantity) / count(),
          |     n = count()
          |   by l_returnflag, l_linestatus""".stripMargin

    // q1_agg runs twice per cycle, at two cutoffs: with an odd number of
    // operations per cycle the median falls inside one query's samples,
    // not on the gap between two queries' latencies
    private val all: Seq[Op] = Seq(
      pqlOp("q1_agg", q1Text, "q1_agg", Map("cutoff" -> lit(cutoff))),
      pqlOp("q3_shipping",
        """customer | where c_mktsegment == segment
          | | join kind=inner (orders) on $left.c_custkey == $right.o_custkey
          | | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
          | | where o_orderdate < todatetime(split) and l_shipdate > todatetime(split)
          | | summarize revenue = todouble(sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))) / 10000.0
          |   by l_orderkey, od = unix_seconds(todatetime(o_orderdate))
          | | sort by revenue, l_orderkey asc | take 10""".stripMargin,
        "q3_shipping", Map("segment" -> lit(segment), "split" -> lit(split))),
      pqlOp("q5_local",
        """region | where r_name == rname
          | | join kind=inner (nation) on $left.r_regionkey == $right.n_regionkey
          | | join kind=inner (customer) on $left.n_nationkey == $right.c_nationkey
          | | join kind=inner (orders) on $left.c_custkey == $right.o_custkey
          | | join kind=inner (lineitem) on $left.o_orderkey == $right.l_orderkey
          | | summarize revenue = todouble(sum(tolong(round(l_extendedprice * (1 - l_discount) * 10000)))) / 10000.0
          |   by n_name""".stripMargin,
        "q5_local", Map("rname" -> lit(region))),
      pqlOp("events_windowed",
        """events | where event_type in (t1, t2)
          | | summarize n = count(), total = todouble(sum(tolong(round(value * 100)))) / 100.0
          |   by tb = bin(ts, "15m"), event_type
          | | project ts_bucket = unix_seconds(tb), event_type, n, total""".stripMargin,
        "events_windowed", Map("t1" -> lit(types(0)), "t2" -> lit(types(1)))),
      pqlOp("q1_agg", q1Text, "q1_agg_2", Map("cutoff" -> lit(cutoff2)))
    )
    private def q1Ref(c: String): String =
      s"""SELECT l_returnflag, l_linestatus,
         |  sum(l_quantity) AS sum_qty,
         |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_base,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS sum_disc_price,
         |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0 AS sum_charge,
         |  sum(l_quantity) / count(*) AS avg_qty,
         |  count(*) AS n
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$c'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin

    val refs: collection.Map[String, String] = Map(
      "q1_agg" -> q1Ref(cutoff),
      "q1_agg_2" -> q1Ref(cutoff2),
      "q3_shipping" ->
        s"""SELECT l_orderkey, CAST(epoch_us(o_orderdate) // 1000000 AS BIGINT) AS od,
           |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
           |FROM customer
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE c_mktsegment = '$segment'
           |  AND o_orderdate < TIMESTAMP '$split' AND l_shipdate > TIMESTAMP '$split'
           |GROUP BY l_orderkey, od
           |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
      "q5_local" ->
        s"""SELECT n_name,
           |  CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS DOUBLE) / 10000.0 AS revenue
           |FROM region
           |JOIN nation ON r_regionkey = n_regionkey
           |JOIN customer ON n_nationkey = c_nationkey
           |JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON o_orderkey = l_orderkey
           |WHERE r_name = '$region'
           |GROUP BY n_name""".stripMargin,
      "events_windowed" ->
        s"""SELECT CAST(epoch_us(ts::TIMESTAMP) // 1000 // 900000 * 900 AS BIGINT) AS ts_bucket,
           |  event_type, count(*) AS n,
           |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total
           |FROM events WHERE event_type IN ('${types(0)}', '${types(1)}')
           |GROUP BY 1, 2""".stripMargin
    )
    def tables: Seq[String] = Seq("region", "nation", "customer", "orders", "lineitem", "events")
    // every op with its literals: a new literal is new generated code, and
    // a first (cold) execution among the few measured ones moves the median
    def warmup(spark: SparkSession, round: Int): Unit = all.foreach(op => collectAll(spark, op))
    def ops: Iterator[(Op, Boolean)] = Iterator.continually(marked(all)).flatten
    def tracedOps: Seq[Op] = all
    def facts: Map[String, Any] = Map("cutoffs" -> Seq(cutoff, cutoff2), "segment" -> segment, "split" -> split,
      "region" -> region, "event_types" -> types)
  }

  /** LLM-data ops: construction-heavy ones beside execution-only controls. */
  final class OpsBuild extends Workload {
    private val names = Seq("dedup_clusters", "kmeans_assign", "ann_ivf_auto", "dedup_semantic_auto",
      "sample_token_budget_auto", "decontam_overlap", "dedup_minhash", "text_bpe", "text_subwords")
    private val all: Seq[Op] = names.map { n =>
      val thunk = SparkEntry.queries(n)
      Op(n, "ops", n, None, (s, cat) => {
        // the op reads its tables itself; resolve them through the
        // counting catalog so input rows are attributed to the op
        if (n.startsWith("dedup_semantic") || n.startsWith("ann") || n.startsWith("kmeans")) cat("embeddings")
        else cat("documents")
        thunk(s, Harness.dataDir)
      })
    }
    val refs: collection.Map[String, String] = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    def tables: Seq[String] = Seq("documents", "embeddings")
    def warmup(spark: SparkSession, round: Int): Unit =
      Seq("text_bpe", "dedup_minhash").foreach(n => collectAll(spark, all(names.indexOf(n))))
    def ops: Iterator[(Op, Boolean)] = Iterator.continually(marked(all)).flatten
    def tracedOps: Seq[Op] = all
    def facts: Map[String, Any] = Map("ops" -> names)
  }

  /** The windowed events aggregation as a file stream, one file per trigger. */
  final class StreamWindow(data: String, types: (String, String)) extends Workload {
    private val dummy = Op("events_window_stream", "compiler", "stream", None, (_, _) => null)
    def tables: Seq[String] = Nil
    val refs: collection.Map[String, String] = Map.empty
    def warmup(spark: SparkSession, round: Int): Unit = {
      val ex = new Harness.Exec(spark, None)
      try Harness.runStream(ex, s"$data/warm", types, round, traced = false, tag = "w")
      finally ex.shutdown()
    }
    def ops: Iterator[(Op, Boolean)] = Iterator.continually(dummy -> true)
    def tracedOps: Seq[Op] = Seq(dummy)
    override def run(ex: Harness.Exec, op: Op, idx: Int, traced: Boolean): mutable.LinkedHashMap[String, Any] =
      Harness.runStream(ex, s"$data/in", types, idx, traced)
    def facts: Map[String, Any] = Map("event_types" -> Seq(types._1, types._2))
  }
}

/** Minimal JSON encoder for the record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
