package graft

import org.apache.spark.sql.SparkSession

/** The measurement SENTINEL: the full lineitem scan to a noop sink,
  * timed around every Bench and MicroBench record so a degraded
  * environment (memory-compaction stalls on a shared VM) marks its own
  * numbers suspect. Deliberately NOT a SparkEntry entry — it must never
  * change across rounds, or the degraded signal conflates binary and
  * environment.
  *
  * Constructing one warms the scan up twice (codegen + file listing);
  * [[once]] then times one scan. A record is [[degraded]] when any
  * sample exceeds 2× the [[expected]] seconds.
  */
final class Sentinel(spark: SparkSession, sfDir: String) {
  val expected: Double = Sentinel.expectedFor(sfDir)
  private val df = graft.sources.Tables.parquetDir(spark, sfDir)("lineitem")

  def once(): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  once(); once()

  def degraded(samples: Seq[Double]): Boolean =
    expected > 0 && samples.exists(_ > 2 * expected)
}

/** Per-scale expected sentinel seconds.
  *
  * Round 14's sf30 octave showed why one constant isn't enough: the
  * sentinel scan itself grows with the scale factor, so the
  * sf0.1-calibrated 0.24 s misbrackets every octave record. The table
  * below is the round-15 calibration (BASELINE.md "Sentinel
  * calibration"), measured on the standard ScaleData dirs with the
  * usual thread counts; `SPARK_GRAFT_SENTINEL_SEC` still overrides
  * (a malformed override degrades to the table), and an unknown dir
  * yields 0.0 (sentinels recorded but not judged).
  */
object Sentinel {

  /** dir-basename suffix → expected sentinel seconds. */
  private val calibrated: Seq[(String, Double)] = Seq(
    "sf0.1" -> 0.24,
    "graft_sf1" -> 0.27,
    "graft_sf3" -> 0.55, // interpolated (≈ linear in bytes past sf1)
    "graft_sf10" -> 1.0,
    "graft_sf30" -> 2.1,
    "graft_sf100" -> 7.0
  )

  def expectedFor(sfDir: String): Double =
    sys.env.get("SPARK_GRAFT_SENTINEL_SEC")
      .flatMap { s =>
        val p = scala.util.Try(s.toDouble).toOption
        if (p.isEmpty) System.err.println(s"[bench] ignoring malformed SPARK_GRAFT_SENTINEL_SEC=$s")
        p
      }
      .getOrElse {
        val base = sfDir.stripSuffix("/")
        calibrated.collectFirst { case (k, v) if base.endsWith(k) => v }.getOrElse(0.0)
      }
}
