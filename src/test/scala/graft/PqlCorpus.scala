package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit

/** The PQL test corpus the repository owns, under
  * `src/test/resources/pql`:
  *
  *   - `Tables/`: fixture tables, `<Name>.csv` and the ClickHouse-JSON
  *     `MapTable.json`;
  *   - `Goldens/<Name>/`: `input.pql`, a hand-written DuckDB
  *     `oracle.sql` with the reference semantics of that query, its
  *     `output.csv`, and optionally `options.jwcc` (external
  *     parameters) and an `unordered` marker;
  *   - `fuzz/FuzzParse`, `fuzz/FuzzScan`: parser/lexer seeds in the Go
  *     fuzz-corpus format.
  *
  * Every `output.csv` is DuckDB's answer to the golden's `oracle.sql`
  * over the same fixture files, written by `tools/make_goldens.py`
  * (`--check` diffs the checked-in files against a fresh run). A golden
  * without `output.csv` is only allowed for a query that calls `now()`.
  *
  * GoldenSpec and SqlCompileSpec load goldens, tables and parameters
  * through here; FuzzSpec reads its seeds from `dir("fuzz")`.
  */
object PqlCorpus {

  /** The corpus as sbt copies it onto the test classpath; None when
    * it is absent.
    */
  private val root: Option[File] =
    Option(getClass.getResource("/pql")).map(u => new File(u.toURI))

  /** The corpus directory `sub` (`Goldens`, `Tables`, `fuzz`), or a
    * message naming where it was looked for.
    */
  def dir(sub: String): Either[String, File] =
    root.map(new File(_, sub)).filter(_.isDirectory).toRight(
      s"PQL corpus directory not found: $sub under test classpath resource /pql (src/test/resources/pql/$sub)")

  /** Names a corpus directory and the source directory it is copied from. */
  def describe(d: File): String =
    s"${d.getPath} (the test-classpath copy of src/test/resources/pql/${d.getName})"

  /** Golden directories (those holding an `input.pql`) by name; empty
    * when the corpus is absent.
    */
  def goldenDirs: List[File] =
    dir("Goldens").toOption.toList.flatMap(_.listFiles())
      .filter(d => new File(d, "input.pql").isFile)
      .sortBy(_.getName)

  /** Why [[goldenDirs]] is empty, naming the path it looked at. */
  def noGoldens: String =
    dir("Goldens").fold(identity, d => s"no golden (no */input.pql) under ${describe(d)}")

  /** True for a query whose result depends on the wall clock. */
  def timeDependent(pql: String): Boolean = pql.contains("now()")

  /** The fixture tables by name.
    *
    * CSV: header row, inferred column types, RFC 4180 quoting (a quote
    * inside a quoted field is doubled). An empty field reads as NULL:
    * `nullValue` is set to Spark's own default `""` here so the rule is
    * stated in one place; tools/make_goldens.py loads the same files
    * into DuckDB under the same rule.
    */
  def tables(spark: SparkSession): Map[String, DataFrame] = {
    val files = dir("Tables").fold(sys.error(_), _.listFiles().toList)
    val csv = files.filter(_.getName.endsWith(".csv")).map { f =>
      f.getName.stripSuffix(".csv") -> spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        .option("nullValue", "")
        .option("escape", "\"")
        .csv(f.getPath)
    }
    val json = files.filter(_.getName.endsWith(".json")).map { f =>
      f.getName.stripSuffix(".json") -> clickHouseJson(spark, f)
    }
    (csv ++ json).toMap
  }

  /** Loads a ClickHouse-JSON-format fixture ({"meta": [...], "data":
    * [...]}) with a Map-typed column (only MapTable uses this shape).
    */
  private def clickHouseJson(spark: SparkSession, f: File): DataFrame = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(Files.readString(f.toPath))
    val rows = (j \ "data").extract[List[JObject]].map { o =>
      ((o \ "id").extract[Int], (o \ "a").extract[Map[String, Long]])
    }
    import spark.implicits._
    rows.toDF("id", "a")
  }

  /** External parameters from a golden's `options.jwcc`
    * (`{"parameters": {"name": {"value": "…"}}}`; HuJSON trailing commas
    * allowed). Integer text binds as a long, decimal text as a double,
    * anything else as a string.
    */
  def params(dir: File): Map[String, Column] = {
    val f = new File(dir, "options.jwcc")
    if (!f.exists()) return Map.empty
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val text = Files.readString(f.toPath).replaceAll(",\\s*([}\\]])", "$1")
    (JsonMethods.parse(text) \ "parameters") match {
      case JObject(fields) =>
        fields.map { case (name, spec) =>
          val value = (spec \ "value").extract[String]
          val column =
            if (value.matches("-?[0-9]+")) lit(value.toLong)
            else if (value.matches("-?[0-9]*\\.[0-9]+")) lit(value.toDouble)
            else lit(value)
          name -> column
        }.toMap
      case _ => Map.empty
    }
  }
}
