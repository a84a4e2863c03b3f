package graft

import scala.sys.process._

/** CLI contract (the analog of the reference's `pql` binary,
  * cmd/pql/main.go): argv parsing, catalog resolution, and the
  * stdin/argv/--explain/--limit paths. Arg parsing and compilation are
  * tested in-process; the full process contract (stdin source, exit
  * codes, stdout rendering) gets one real subprocess round-trip each.
  */
class CliSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("parseArgs: flags, limit, and multi-token query words join with spaces") {
    assert(Cli.parseArgs(List("--tables", "/d")) == Cli.Opts(tablesDir = Some("/d")))
    assert(Cli.parseArgs(List("--explain")) == Cli.Opts(explain = true))
    assert(Cli.parseArgs(List("--limit", "7")) == Cli.Opts(limit = 7))
    assert(
      Cli.parseArgs(List("--tables", "/d", "region", "|", "count")) ==
        Cli.Opts(tablesDir = Some("/d"), query = Some("region | count"))
    )
    // flags may come after the query words too
    assert(
      Cli.parseArgs(List("region", "--limit", "3")) ==
        Cli.Opts(limit = 3, query = Some("region"))
    )
  }

  test("compile resolves tables from --tables dir and runs the query") {
    val opts = Cli.Opts(tablesDir = Some(sf))
    val df = Cli.compile(SparkTestBase.spark, opts, "nation | where n_regionkey == 1 | count")
    assert(df.columns.toSeq == Seq("count()"))
    assert(df.collect().head.getLong(0) == 5L)
  }

  test("compile without --tables resolves from the session catalog") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("id", "v").createOrReplaceTempView("cli_t")
    try {
      val df = Cli.compile(spark, Cli.Opts(), "cli_t | where id == 2 | project v")
      assert(df.collect().map(_.getString(0)).toSeq == Seq("b"))
    } finally spark.catalog.dropTempView("cli_t")
  }

  test("--explain path: the compiled plan formats without executing") {
    val df = Cli.compile(SparkTestBase.spark, Cli.Opts(tablesDir = Some(sf)), "region | take 2")
    // explain("formatted") prints; just assert the plan string is well-formed
    assert(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode).nonEmpty)
  }

  private lazy val javaBin = s"${sys.props("java.home")}/bin/java"
  private lazy val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  private def runCli(args: Seq[String], stdin: String): (Int, String) = {
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), "graft.Cli"
    ) ++ args
    val out = new StringBuilder
    val logger = ProcessLogger(line => out.append(line).append('\n'), _ => ())
    // Cli reads SPARK_MASTER from the ENVIRONMENT (sys.env), so it must
    // be set on the process builder — a -D system property is ignored
    val proc = scala.sys.process.Process(cmd, None, "SPARK_MASTER" -> "local[4]")
    val exit = (proc #< new java.io.ByteArrayInputStream(stdin.getBytes("UTF-8"))).!(logger)
    (exit, out.toString)
  }

  test("subprocess: stdin query with --tables and --limit renders rows, exit 0") {
    val (exit, out) = runCli(Seq("--tables", sf, "--limit", "3"), "region | sort by r_regionkey | project r_name")
    assert(exit == 0, out)
    assert(out.contains("r_name"), out)
    // `sort by` defaults DESCENDING (KQL semantics): regions 4,3,2
    assert(out.contains("MIDDLE EAST"), out)
    assert(!out.contains("AFRICA"), out) // region 0 is cut by --limit 3
  }

  test("subprocess: a parse error exits 1 without a stack trace") {
    val (exit, out) = runCli(Seq("--tables", sf), "region | | bogus###")
    assert(exit == 1, out)
    assert(!out.contains("at graft."), out) // clean one-line error, no trace
  }

  test("parseArgs: --compile flag") {
    assert(Cli.parseArgs(List("--compile")) == Cli.Opts(compileOnly = true))
  }

  test("subprocess: --compile prints SQL text instead of executing") {
    val (exit, out) = runCli(
      Seq("--tables", sf, "--compile"),
      "region | where r_regionkey > 1 | count")
    assert(exit == 0, out)
    assert(out.contains("FROM (SELECT * FROM `region`) AS __s0 WHERE"), out)
    assert(out.contains("count(1) AS `count()`"), out)
    assert(!out.contains("+--"), out) // no rendered result table
  }

  test("parseArgs: -o / --output flag") {
    assert(Cli.parseArgs(List("-o", "/tmp/x.sql")) == Cli.Opts(output = Some("/tmp/x.sql")))
    assert(Cli.parseArgs(List("--output", "/tmp/x.sql")) == Cli.Opts(output = Some("/tmp/x.sql")))
  }

  test("subprocess: 3-statement session — let carries forward, one bad statement logs but later ones run, exit 1") {
    // reference cmd/pql/main.go:64-110 session semantics: statement 1
    // binds a let used by statement 3; statement 2 is bad (logs one
    // error, continues); statement 4 uses the binding and still runs;
    // overall exit is non-zero because one statement failed.
    val session =
      """let minkey = 1;
        |region | | broken;
        |region | where r_regionkey > minkey | count;
        |nation | where n_regionkey == minkey | count
        |""".stripMargin
    val (exit, out) = runCli(Seq("--tables", sf), session)
    assert(exit == 1, out)
    assert(out.contains("count()"), out)
    assert(out.contains("3"), out) // regions 2,3,4
    assert(out.contains("5"), out) // 5 nations in region 1
    assert(!out.contains("at graft."), out) // clean errors, no traces
  }

  test("subprocess: --compile with a 3-query session and -o writes one SQL block per statement to the file") {
    val f = java.io.File.createTempFile("cli_out", ".sql")
    f.deleteOnExit()
    val session = "let k = 2;region | where r_regionkey == k | count; nation | take 1; region | take 1"
    val (exit, stdout) = runCli(Seq("--tables", sf, "--compile", "-o", f.getPath), session)
    assert(exit == 0, stdout)
    val written = scala.io.Source.fromFile(f, "UTF-8").mkString
    assert(written.linesIterator.count(_.startsWith("SELECT ")) == 3, written)
    // the let binding reached the first query (null-safe `==` renders
    // as coalesce(`=`(col, 2), false))
    assert(written.contains("(r_regionkey, 2)"), written)
    // rendered output went to the file, not stdout
    assert(!stdout.contains("SELECT "), stdout)
  }

  test("subprocess: a bad let statement is rejected once and does not poison the session") {
    val session = "let broken = ;\nregion | count"
    val (exit, out) = runCli(Seq("--tables", sf), session)
    assert(exit == 1, out) // the bad let failed → non-zero
    assert(out.contains("5"), out) // but the region count still ran: 5 regions
  }

  test("subprocess: empty (;;) and whitespace-only statements are skipped everywhere, exit 0") {
    // INTENTIONAL DIVERGENCE, pinned: the reference skips token-free
    // statements only in trailing position (main.go:110), so its `;;`
    // reaches pql.Compile and exits 1 on "missing tabular queries"
    // (pql.go nil-expr check). graft skips them in every position —
    // `;;`, comment-only statements, and whitespace-only trailers are
    // all harmless.
    val session = ";;\nregion | count;\n  ;\n// just a comment\n;\n   \n"
    val (exit, out) = runCli(Seq("--tables", sf), session)
    assert(exit == 0, out)
    assert(out.contains("5"), out) // the one real statement ran
  }

  test("subprocess: let-only input emits nothing and exits 0 (reference parity)") {
    // parity with main.go:83-96: completed lets are validated with a
    // placeholder query, accumulate silently, print nothing; with no
    // tabular statement the session's finalError stays nil → exit 0.
    val (exit, out) = runCli(Seq("--tables", sf), "let n = 2;\nlet m = n + 1;\n")
    assert(exit == 0, out)
    assert(!out.contains("+--"), out) // no rendered table
    // and the accumulated lets actually bind when a query follows
    val (exit2, out2) = runCli(Seq("--tables", sf),
      "let n = 2;\nregion | where r_regionkey == n | project r_name")
    assert(exit2 == 0, out2)
    assert(out2.contains("ASIA"), out2)
  }
}
