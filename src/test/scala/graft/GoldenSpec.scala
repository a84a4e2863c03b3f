package graft

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Runs the in-repo golden corpus (src/test/resources/pql/Goldens, see
  * [[PqlCorpus]]) through graft on Spark: each golden's `input.pql`
  * over the fixture tables must return its `output.csv`, which DuckDB
  * produced from the golden's hand-written `oracle.sql`.
  *
  * This is the "a user of the reference could switch engines" gate:
  * same queries, same tables, same rows out. A missing corpus is one
  * failing test that names the path it looked for.
  */
class GoldenSpec extends SparkTestBase {

  private lazy val tables: Map[String, DataFrame] = PqlCorpus.tables(spark)

  private def catalog(name: String): DataFrame =
    tables.getOrElse(name, sys.error(s"no fixture table $name"))

  // ---- expected-output handling --------------------------------------

  /** Minimal quote-aware CSV parser for the expected outputs. */
  private def parseCsv(text: String): List[List[String]] = {
    val rows = List.newBuilder[List[String]]
    val row = List.newBuilder[String]
    val field = new StringBuilder
    var inQuotes = false
    var sawAny = false
    var i = 0
    def endField(): Unit = { row += field.result(); field.clear() }
    def endRow(): Unit = { endField(); rows += row.result(); row.clear() }
    while (i < text.length) {
      val c = text.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < text.length && text.charAt(i + 1) == '"') { field += '"'; i += 1 }
          else inQuotes = false
        } else field += c
      } else
        c match {
          case '"'  => inQuotes = true; sawAny = true
          case ','  => endField(); sawAny = true
          case '\r' =>
          case '\n' => if (sawAny || field.nonEmpty) endRow(); sawAny = false
          case ch   => field += ch; sawAny = true
        }
      i += 1
    }
    if (sawAny || field.nonEmpty) endRow()
    rows.result()
  }

  /** Render a Spark value the way ClickHouse CSV does: NULL as an empty
    * field, booleans as 1/0, a whole double below 1e15 as integer text.
    * Any other double renders as its exact binary value rounded
    * half-even to 15 significant digits, plain, without trailing
    * zeros: an explicit rule, since JDK 17's Double.toString is not
    * always the shortest round-trip form. tools/make_goldens.py renders
    * DuckDB values by the same rule.
    */
  private def show(v: Any): String = v match {
    case null                    => ""
    case true                    => "1"
    case false                   => "0"
    case d: Double if d.isWhole && math.abs(d) < 1e15 => d.toLong.toString
    case d: Double =>
      new java.math.BigDecimal(d).round(new java.math.MathContext(15, java.math.RoundingMode.HALF_EVEN))
        .stripTrailingZeros.toPlainString
    case f: Float                => show(f.toDouble)
    case b: java.math.BigDecimal => if (BigDecimal(b).isWhole) b.toBigInteger.toString else b.toString
    case other                   => other.toString
  }

  // ---- the tests -----------------------------------------------------

  private val goldenDirs = PqlCorpus.goldenDirs

  if (goldenDirs.isEmpty)
    test("golden corpus") { fail(PqlCorpus.noGoldens) }

  for (dir <- goldenDirs) {
    val name = dir.getName
    test(s"golden: $name") {
      val input = Files.readString(Paths.get(dir.getPath, "input.pql"))
      val params = PqlCorpus.params(dir)
      val result = Pql.query(spark, input, catalog, params)

      val expectedFile = new File(dir, "output.csv")
      if (!expectedFile.exists()) {
        // Only a time-dependent query (now()) may omit its expected
        // rows: assert the query executes.
        assert(PqlCorpus.timeDependent(input), s"$name has no output.csv and does not call now()")
        result.collect()
      } else {
        val expected = parseCsv(Files.readString(expectedFile.toPath))
        val expHeader = expected.head
        val expRows = expected.tail

        assert(result.columns.toList == expHeader, s"column mismatch in $name")

        val gotRows = result.collect().toList.map(_.toSeq.map(show).toList)
        val unordered = new File(dir, "unordered").exists()
        if (unordered)
          assert(
            gotRows.sortBy(_.mkString("\u0001")) == expRows.sortBy(_.mkString("\u0001")),
            s"row multiset mismatch in $name"
          )
        else assert(gotRows == expRows, s"row mismatch in $name")
      }
    }
  }
}
