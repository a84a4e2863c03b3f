package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession builder in graft. Every main (Bench, PlanDump,
  * Verify, the fuzz campaigns, the CLI, …) and the test suites build
  * through it, so the conf that shapes every emitted plan — Exchange
  * partition counts, parquet timestamp typing — is set in one place
  * and the dumped plan is the benched plan by construction.
  *
  * Policy:
  *   - master `SPARK_MASTER` when set (the deployment setting), else
  *     `local[cpus]`;
  *   - `spark.sql.shuffle.partitions` = `cpus`;
  *   - UTC session time zone;
  *   - `spark.sql.parquet.inferTimestampNTZ.enabled=false`: the
  *     testdata parquet carries naive timestamp[us], which Spark 4
  *     would infer as TIMESTAMP_NTZ, but the DuckDB oracle compares
  *     values as UTC instants — read as TIMESTAMP_LTZ under the UTC
  *     session, both engines see identical instants;
  *   - UI off, log level WARN.
  *
  * `spark.sql.autoBroadcastJoinThreshold` stays at Spark's default
  * 10 MB: it broadcasts the dims and ONLY the dims. Round 8's sf1 sweep
  * showed a 64 MB threshold flipping the fact-side joins to
  * driver-built broadcasts (a 6M-row lineitem HashedRelation) — 2.3x
  * slower at sf1, no gain at sf0.1, and the wrong shape for a cluster
  * (facts shuffle, dims broadcast).
  *
  * `cpus` defaults to `SPARK_GRAFT_CPUS`, else the host's core count.
  */
object Sessions {

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"))
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
}
