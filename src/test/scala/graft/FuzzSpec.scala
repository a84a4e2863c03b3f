package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

import graft.parser.PqlParseException

/** Replays the in-repo fuzz seed corpus
  * (src/test/resources/pql/fuzz/FuzzParse, FuzzScan — see [[PqlCorpus]])
  * through graft's parser and SQL backend: every input must either
  * parse or raise PqlParseException — never crash with anything else —
  * and every input the plan path runs must give its rows through SQL
  * text.
  * The seeds are written in the reference's Go fuzz-corpus format
  * (`go test fuzz v1` then `string("…")` with Go escapes) and cover the
  * malformed and edge forms of the lexer/parser grammar: unterminated
  * strings and backticks, escapes and NULs, hex/exponent limits,
  * unbalanced brackets, dangling pipes, operators without operands,
  * incomplete `let`s, comments at EOF and non-ASCII identifiers.
  */
class FuzzSpec extends AnyFunSuite {

  /** Decode the Go fuzz-corpus literal `string("...")` (Go escape
    * syntax: \xNN, \uNNNN, \n, \t, ...).
    */
  private def goUnquote(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'x' => sb.append(Integer.parseInt(s.substring(i + 2, i + 4), 16).toChar); i += 4
          case 'u' => sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'a' => sb.append('\u0007'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'v' => sb.append('\u000b'); i += 2
          case '0' => sb.append('\u0000'); i += 2
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Every seed file of the corpus's `fuzz` directory as (relative
    * name, decoded input). Fails, naming the path, when the corpus is
    * absent, empty, or holds a file with no `string("…")` line.
    */
  private def corpusInputs: Seq[(String, String)] = {
    val fuzzRoot = PqlCorpus.dir("fuzz").fold(msg => fail(msg), _.toPath)
    val inputs = Files.walk(fuzzRoot).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map { p: Path =>
        val lines = new String(Files.readAllBytes(p), "UTF-8").linesIterator.toList
        val lit = lines.collectFirst {
          case l if l.startsWith("string(\"") && l.endsWith("\")") =>
            goUnquote(l.stripPrefix("string(\"").stripSuffix("\")"))
        }
        assert(lit.isDefined, s"fuzz seed $p holds no string(\"…\") line")
        fuzzRoot.relativize(p).toString -> lit.get
      }
      .toSeq
      .sortBy(_._1)
    assert(inputs.nonEmpty, s"no fuzz inputs found under ${PqlCorpus.describe(fuzzRoot.toFile)}")
    inputs
  }

  test("reference fuzz corpus: parse or PqlParseException, never crash") {
    for ((name, src) <- corpusInputs) {
      try Pql.parse(src)
      catch {
        case _: PqlParseException => // expected for malformed input
        case e: Throwable => fail(s"fuzz input $name crashed with ${e.getClass.getName}: ${e.getMessage}")
      }
    }
  }

  /** The engine's error condition of an AnalysisException. */
  private def condition(e: Throwable): Option[String] = e match {
    case a: AnalysisException => Option(a.getCondition)
    case _                    => None
  }

  test("reference fuzz corpus through compileToSql: SQL text or typed error, never crash") {
    // the SQL backend must be exactly as robust as the parser: every
    // corpus input either compiles to a string or raises a typed
    // parse/compile error (unknown tables resolve to a dummy schema so
    // compilation proceeds past the catalog). Unknown columns and
    // operand types are the engine's to reject (RejectFuzzSpec's
    // deferred class; graft has no type checker of its own): the text
    // backend raises the engine's AnalysisException at compile time,
    // and the plan path must then reject the same input with the same
    // error condition (e.g. UNRESOLVED_COLUMN.WITH_SUGGESTION). Every
    // input the plan path runs, the emitted text runs too, over the
    // same dummy table registered under each name the input reads,
    // and returns the same columns and rows.
    val spark = SparkTestBase.spark
    import spark.implicits._
    val dummy = Seq((1L, "x")).toDF("a", "b")
    def rows(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.collect().map(_.toString).groupBy(identity).view.mapValues(_.length).toMap
    var executed = 0
    for ((name, src) <- corpusInputs) {
      val sql = try Some(Pql.compileToSql(src, _ => dummy))
      catch {
        case _: PqlParseException                   => None
        case _: graft.compiler.PqlCompileException  => None
        case e: AnalysisException if condition(e).isDefined =>
          val plan = scala.util.Try(Pql.query(spark, src, _ => dummy)).failed.toOption
          assert(plan.flatMap(condition) == condition(e),
            s"fuzz input $name: compileToSql raised ${e.getMessage}, but the plan path gave $plan")
          None
        case e: Throwable =>
          fail(s"fuzz input $name crashed compileToSql with ${e.getClass.getName}: ${e.getMessage}")
      }
      for (text <- sql; plan <- scala.util.Try(Pql.query(spark, src, _ => dummy)).toOption
           if scala.util.Try(plan.collect()).isSuccess) {
        val views = scala.collection.mutable.Set[String]()
        Pql.parse(src).foreach(graft.parser.Walk.all(_) {
          case t: graft.parser.TabularExpr => views += t.source.table.name
          case _                           =>
        })
        views.foreach(v => dummy.createOrReplaceTempView("`" + v.replace("`", "``") + "`"))
        try {
          val viaSql = spark.sql(text)
          assert(viaSql.columns.toSeq == plan.columns.toSeq, s"fuzz input $name:\n$text")
          assert(rows(viaSql) == rows(plan), s"fuzz input $name:\n$text")
        } finally views.foreach(spark.catalog.dropTempView)
        executed += 1
      }
    }
    assert(executed > 0)
    info(s"$executed corpus inputs ran through SQL text")
  }

  test("random byte soup never crashes the parser") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 500) {
      val len = rnd.nextInt(40)
      val src = new String(Array.fill(len)(rnd.nextPrintableChar()))
      try Pql.parse(src)
      catch { case _: PqlParseException => () }
    }
  }

  test("raw control/high bytes never crash the parser (reference corpus shape)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500) {
      val len = rnd.nextInt(32)
      // full char range incl. NUL, control chars, surrogo-ish values
      val src = new String(Array.fill(len)(rnd.nextInt(0xffff).toChar))
      try Pql.parse(src)
      catch { case _: PqlParseException => () }
    }
    // targeted: embedded NULs around valid syntax
    for (s <- Seq("T | where x == 1\u0000", "\u0000T", "T | project `a\u0000b`")) {
      try Pql.parse(s)
      catch { case _: PqlParseException => () }
    }
  }
}
