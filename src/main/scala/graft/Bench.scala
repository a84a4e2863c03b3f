package graft

/** Headline-query benchmark (driver-run, one JSON line on stdout).
  *
  * Measures the §2.5 headline queries (SparkEntry.benchKeys) at the
  * scale factor in SPARK_GRAFT_SF_DIR. Each query gets two warm-up
  * executions (JIT + codegen + file-listing warmup), then THREE
  * measured runs of which the MEDIAN is reported — single-run noise at
  * sf0.1 is ±0.3 s (~14% of the headline total), large enough to mask
  * or fake a real regression. Results are fully materialized through
  * the `noop` sink —
  * every operator the user would pay for executes (projections, sorts,
  * exchanges), with no collect-to-driver and no output cost.
  *
  * A failing query is reported in an `errors` object and EXCLUDED from
  * `queries`; the total is the sum of successful queries only, so a
  * failure can never improve the score silently.
  *
  * ENVIRONMENT-STALL DETECTION: this VM exhibits memory-compaction
  * stalls that degrade individual runs 2-3× (BENCH_r08 recorded a
  * phantom regression this way — the identical binary re-ran 1.7×
  * faster on a quiet machine). Two defenses make a degraded record
  * self-evident in the JSON itself:
  *   - `runs` carries every per-run time (not just the median), so a
  *     stalled run is visible as outlier spread;
  *   - a fixed SENTINEL micro-query — the full lineitem scan to a noop
  *     sink, a code path that has not changed since round 4 and whose
  *     sf0.1 cost is a recorded BASELINE.md constant (0.24 s) — is
  *     timed at start, middle, and end of the run. If any sentinel
  *     sample exceeds 2× the expected constant, `"degraded": true` is
  *     set: the numbers in that record reflect the environment, not
  *     the binary. The expected constant is overridable via
  *     SPARK_GRAFT_SENTINEL_SEC for non-sf0.1 runs.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    def timeRuns(name: String): Either[String, Seq[Double]] =
      try {
        materialize(name) // warm-up 1: codegen, parquet footers, file index
        materialize(name) // warm-up 2: C2-compile the generated code
        Right(Seq.fill(3) {
          val t0 = System.nanoTime()
          materialize(name)
          (System.nanoTime() - t0) / 1e9
        })
      } catch {
        case e: Throwable =>
          Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }

    val sentinel = new Sentinel(spark, sfDir)
    val sentinelExpected = sentinel.expected

    val sentinelStart = sentinel.once()
    val results = SparkEntry.benchKeys.map(name => name -> timeRuns(name))
    val sentinelMid = sentinel.once()
    // LLM-pipeline ops, timed the same way but reported separately —
    // the headline total stays comparable to BASELINE.md's definition.
    val opsResults = SparkEntry.opsBenchKeys.map(name => name -> timeRuns(name))
    val sentinelEnd = sentinel.once()
    val sentinels = Seq(sentinelStart, sentinelMid, sentinelEnd)
    val degraded = sentinel.degraded(sentinels)
    // SECOND taint signal (round 20): the r19 record passed the 2×
    // sentinel gate with a 1.8× drift while individual entries ran
    // [0.31, 4.05, 4.99] — a 16× within-entry spread manufactured a
    // phantom regression. After two warm-ups a healthy entry's
    // max/min run ratio sits well under 2; anything past 3× is a
    // mid-entry environment stall. Flagged entries are listed (the
    // medians stay — a single stalled run of three usually leaves the
    // median honest) so the record self-reports which rows not to
    // trust even when every sentinel passes.
    val spreadSuspect = (results ++ opsResults).collect {
      case (k, Right(v)) if v.min > 0 && v.max / v.min > 3.0 => k
    }

    def median(rs: Seq[Double]): Double = rs.sorted.apply(rs.size / 2)
    def jarr(rs: Seq[Double]): String = rs.mkString("[", ",", "]")

    val ok = results.collect { case (k, Right(v)) => k -> v }
    val opsOk = opsResults.collect { case (k, Right(v)) => k -> v }
    val errs = (results ++ opsResults).collect { case (k, Left(m)) => k -> m }
    // 4-decimal medians: 0.1 ms precision, and the compact record stays
    // well inside the driver's stdout tail window at 30+ queries.
    def jnum(d: Double): String = f"$d%.4f"
    val qs = ok.map { case (k, v) => s"${Json.str(k)}:${jnum(median(v))}" }.mkString("{", ",", "}")
    val os = opsOk.map { case (k, v) => s"${Json.str(k)}:${jnum(median(v))}" }.mkString("{", ",", "}")
    val runs = (ok ++ opsOk).map { case (k, v) => s"${Json.str(k)}:${jarr(v)}" }.mkString("{", ",", "}")
    val es = errs.map { case (k, m) => s"${Json.str(k)}:${Json.str(m)}" }.mkString("{", ",", "}")
    val total = ok.map { case (_, v) => median(v) }.sum
    if (errs.nonEmpty) System.err.println(s"[bench] ${errs.size} queries FAILED: ${errs.map(_._1).mkString(", ")}")
    if (degraded) System.err.println(
      s"[bench] DEGRADED ENVIRONMENT: sentinel ${sentinels.map(s => f"$s%.3f").mkString("/")} s " +
        f"vs expected $sentinelExpected%.2f s — treat this record's times as environment noise")
    if (spreadSuspect.nonEmpty) System.err.println(
      s"[bench] SPREAD SUSPECT (within-entry max/min > 3x — mid-entry environment " +
        s"stall even though sentinels pass): ${spreadSuspect.mkString(", ")}")
    // stop Spark BEFORE printing so the JSON line is the last stdout
    // line of the run (shutdown logging lands above it, not after) —
    // robust whether the driver scans lines or takes the last one.
    // A throwing stop() must not lose the measurements already taken.
    try spark.stop()
    catch { case e: Throwable => System.err.println(s"[bench] spark.stop failed: $e") }
    // Verbose record (per-run times for outlier forensics) goes to
    // STDERR under a distinct metric name — stdout carries exactly ONE
    // "metric":"total" record, so a consumer that takes the first match
    // and one that takes the last agree.
    val spreadJson = spreadSuspect.map(Json.str).mkString("[", ",", "]")
    System.err.println(
      s"""{"metric":"total_verbose","value":$total,"unit":"sec","queries":$qs,"ops":$os,"runs":$runs,""" +
        s""""sentinel":${jarr(sentinels)},"sentinel_expected":$sentinelExpected,"degraded":$degraded,""" +
        s""""spread_suspect":$spreadJson,"errors":$es,"sf":${Json.str(sfDir)}}"""
    )
    // … then a COMPACT medians-only record as the FINAL stdout line.
    // The driver keeps only a bounded tail of stdout; through round 10
    // the single verbose line overflowed that window and every
    // BENCH_r*.json recorded `"parsed": null` with a mid-key fragment.
    // The compact line (~1 KB at 33 queries: medians, sentinels, error
    // keys — no per-run arrays) fits the window whole, so the driver
    // parses it whether it takes the last line or scans from the end.
    println(
      s"""{"metric":"total","value":${jnum(total)},"unit":"sec","queries":$qs,"ops":$os,""" +
        s""""sentinel":${sentinels.map(jnum).mkString("[", ",", "]")},""" +
        s""""sentinel_expected":$sentinelExpected,"degraded":$degraded,""" +
        s""""spread_suspect":$spreadJson,"errors":$es,"sf":${Json.str(sfDir)}}"""
    )
    System.out.flush()
  }
}
