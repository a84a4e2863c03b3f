package graft

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.parser.{Lexer, PqlParseException, TokenKind}
import graft.sources.Tables

/** Command-line entry point, the analog of the reference's `pql`
  * binary (reference: cmd/pql/main.go:1-216, which compiles
  * semicolon-separated statements from stdin and prints SQL). graft
  * compiles to a Spark plan, so the CLI can additionally EXECUTE the
  * query and print results or the optimized physical plan.
  *
  * Usage:
  * {{{
  * graft.Cli [--tables DIR] [--explain | --compile] [--limit N] [-o FILE] [QUERY]
  * }}}
  * With no QUERY argument the source is read from stdin (like the
  * reference). Input splits into statements at top-level semicolons
  * ([[graft.parser.splitStatements]]); `let` statements carry forward
  * as a prelude for every later statement in the session, the
  * reference CLI's accumulation loop (cmd/pql/main.go:64-110): a bad
  * statement logs one error line to stderr and processing continues,
  * with a non-zero exit at the end. TWO intentional divergences:
  * (1) the reference's run() compiles a trailing UNTERMINATED
  * statement without the accumulated prelude (main.go's loop only
  * prepends lets once a semicolon closes the statement); graft applies
  * the prelude to every statement including the final unterminated
  * one, so `let x = 1; T | where a == x` works without a trailing
  * semicolon. (2) the reference skips token-free statements only in
  * TRAILING position (main.go:110 checks `len(parser.Scan(stmt)) > 0`
  * there alone), so a mid-session empty statement — `;;`, or a
  * whitespace/comment-only statement — reaches `pql.Compile` and fails
  * with "missing tabular queries" (pql.go's nil-expr check), exiting
  * 1; graft skips token-free statements in EVERY position, so `;;` is
  * harmless. Both are spec-pinned (CliSpec). Tables resolve as
  * `DIR/<name>.parquet`; without `--tables`, names resolve from the
  * Spark session catalog. `--compile` prints the Spark SQL text
  * ([[Pql.compileToSql]]) per statement instead of executing — the
  * reference binary's own output mode. `-o FILE` sends the output
  * (results or SQL) to FILE instead of stdout.
  */
object Cli {

  private[graft] case class Opts(
      tablesDir: Option[String] = None,
      explain: Boolean = false,
      compileOnly: Boolean = false,
      limit: Int = 20,
      output: Option[String] = None,
      query: Option[String] = None
  )

  private def argError(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  private[graft] def parseArgs(args: List[String], acc: Opts = Opts()): Opts = args match {
    case "--tables" :: dir :: rest => parseArgs(rest, acc.copy(tablesDir = Some(dir)))
    case "--tables" :: Nil => argError("--tables requires a directory")
    case "--explain" :: rest => parseArgs(rest, acc.copy(explain = true))
    case "--compile" :: rest => parseArgs(rest, acc.copy(compileOnly = true))
    case "--limit" :: n :: rest =>
      parseArgs(rest, acc.copy(limit = n.toIntOption.getOrElse(argError(s"--limit requires a number, got $n"))))
    case "--limit" :: Nil => argError("--limit requires a number")
    case ("-o" | "--output") :: file :: rest => parseArgs(rest, acc.copy(output = Some(file)))
    case ("-o" | "--output") :: Nil => argError("-o requires a file")
    case q :: rest => parseArgs(rest, acc.copy(query = Some((acc.query.toSeq :+ q).mkString(" "))))
    case Nil => acc
  }

  /** Resolve the table catalog and compile `source` to a DataFrame —
    * the testable core of [[main]], which only adds I/O and exit codes.
    */
  private[graft] def compile(
      spark: SparkSession,
      opts: Opts,
      source: String
  ): org.apache.spark.sql.DataFrame = {
    val catalog: String => org.apache.spark.sql.DataFrame = opts.tablesDir match {
      case Some(dir) => Tables.parquetDir(spark, dir)
      case None => name => spark.table(name)
    }
    Pql.query(spark, source, catalog)
  }

  /** True if `stmt` contains any token (comment-/whitespace-only
    * statements are skipped, reference main.go:113). A statement the
    * lexer rejects is non-empty — its error should surface in parse.
    */
  private def hasTokens(stmt: String): Boolean =
    try Lexer.scan(stmt).nonEmpty
    catch { case _: PqlParseException => true }

  /** True if the statement's first token is the identifier `let`
    * (reference main.go:85-87 checks the scanned token, not a string
    * prefix, so `  let` and `let/*..*/` shapes agree).
    */
  private def isLetStatement(stmt: String): Boolean =
    (try Lexer.scan(stmt).headOption catch { case _: PqlParseException => None }) match {
      case Some(t) => t.kind == TokenKind.Identifier && t.value == "let"
      case None    => false
    }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toList, Opts())
    val source = opts.query.getOrElse(Source.stdin.mkString)
    if (source.trim.isEmpty) {
      System.err.println(
        "usage: graft.Cli [--tables DIR] [--explain | --compile] [--limit N] [-o FILE] [QUERY]  (or query on stdin)")
      sys.exit(2)
    }
    val spark = Sessions.local()

    val catalog: String => org.apache.spark.sql.DataFrame = opts.tablesDir match {
      case Some(dir) => Tables.parquetDir(spark, dir)
      case None      => name => spark.table(name)
    }

    // `let` statements accumulate into a prelude prepended to every
    // later statement, so bindings carry across the session
    // (reference main.go:83-96). A let is validated by PARSING it with
    // a placeholder query appended (the reference compiles
    // `prelude+stmt+";X"`; graft's compile resolves tables, so syntax
    // validation is the analogue — a let whose EXPRESSION misuses a
    // name still errors at the statement that uses it, matching the
    // reference's lazy let scoping).
    val prelude = new StringBuilder
    var anyFailed = false
    def logError(e: Throwable): Unit = {
      System.err.println(e.getMessage)
      anyFailed = true
    }

    val out: java.io.PrintStream = opts.output match {
      case Some(f) => new java.io.PrintStream(new java.io.FileOutputStream(f), true, "UTF-8")
      case None    => System.out
    }

    def processOne(stmt: String): Unit = {
      val full = prelude.toString + stmt
      try {
        if (opts.compileOnly) {
          out.println(Pql.compileToSql(full, catalog))
          out.println()
        } else {
          val df = Pql.query(spark, full, catalog)
          // show/explain print via Predef.println → Console.out, so
          // redirecting Console sends them to `-o FILE` when set
          if (opts.explain) Console.withOut(out) { df.explain("formatted") }
          else Console.withOut(out) { df.show(opts.limit, truncate = false) }
        }
      } catch {
        // parse, compile, and analysis errors all get the clean
        // one-line treatment — a stack trace is a bug report, not a
        // user message
        case e @ (_: graft.parser.PqlParseException | _: graft.compiler.PqlCompileException |
            _: org.apache.spark.sql.AnalysisException | _: IllegalArgumentException) =>
          logError(e)
      }
    }

    try {
      val statements = graft.parser.splitStatements(source).filter(hasTokens)
      statements.foreach { stmt =>
        if (isLetStatement(stmt)) {
          try {
            Pql.parse(prelude.toString + stmt + ";\nX")
            prelude.append(stmt).append(";\n")
          } catch {
            case e: graft.parser.PqlParseException => logError(e)
          }
        } else processOne(stmt)
      }
    } finally {
      if (opts.output.isDefined) out.close()
      spark.stop()
    }
    if (anyFailed) sys.exit(1)
  }
}
