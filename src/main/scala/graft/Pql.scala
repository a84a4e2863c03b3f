package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.compiler.{Compiler, SqlGen}
import graft.parser.{Parser, Statement}

/** graft — a Spark-native engine for PQL, the Kusto-style pipelined
  * query language of the reference implementation (runreveal/pql).
  *
  * A query like
  * {{{
  * StormEvents
  * | where DamageProperty > 5000 and EventType == "Thunderstorm Wind"
  * | top 3 by DamageProperty
  * }}}
  * compiles directly to a Spark DataFrame plan (no SQL string
  * round-trip), so Catalyst optimizes the whole pipeline and the same
  * compiled query runs on batch or streaming inputs.
  *
  * Usage:
  * {{{
  * val df = Pql.query(spark, src)                  // tables from spark catalog (temp views)
  * val df = Pql.query(spark, src, Pql.parquetDir(spark, "/data/sf1"))
  * val df = Pql.query(spark, src, cat, params = Map("minSize" -> lit(10)))
  * }}}
  */
object Pql {

  /** Parse and compile `source` against an explicit table catalog. */
  def query(
      spark: SparkSession,
      source: String,
      catalog: String => DataFrame,
      params: Map[String, Column] = Map.empty
  ): DataFrame = {
    val stmts: List[Statement] = Parser.parse(source)
    new Compiler(source, catalog, params).run(stmts)
  }

  /** Compile `source` resolving table names via `spark.table` (temp
    * views and catalog tables).
    */
  def query(spark: SparkSession, source: String): DataFrame =
    query(spark, source, name => spark.table(name))

  /** Catalog over a directory of parquet tables (`<dir>/<name>.parquet`),
    * one read per table per session (plans are reused).
    */
  def parquetDir(spark: SparkSession, dir: String): String => DataFrame = {
    val cache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    name => cache.getOrElseUpdate(name, spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Validate syntax without executing; throws PqlParseException. */
  def parse(source: String): List[Statement] = Parser.parse(source)

  /** Compile `source` to a SPARK SQL query string — the embedder API
    * the reference exposes as `pql.Compile` (reference pql.go:18-34):
    * hosts that ship SQL text to a cluster, log it for audit, or feed
    * a SQL-analysis pipeline get the query as text instead of a plan.
    * One SELECT per pipeline stage: a stage read once is written in
    * place as a subquery, a stage read more than once (an `| as` name
    * read again) is one `WITH` entry, and the last stage's SELECT is
    * the query, so the text runs at every pipeline length the parser
    * admits. It is rendered as text over the stage DataFrames that
    * [[query]]'s compiler builds: scalar expressions are its Columns (`Column.expr.sql`) and every stage's
    * schema is its frame's, so the two paths cannot drift —
    * `spark.sql(compileToSql(q, cat))` and `Pql.query(spark, q, cat)`
    * return the same rows (golden-tested in SqlCompileSpec). Building
    * those frames runs the same plan-time jobs as [[query]] does
    * (a decontam eval model, a fixed-cells ivf or semantic seed set).
    *
    * `catalog` supplies the tables' frames (column names drive `*`
    * expansion and join collision renaming); the emitted SQL refers to
    * tables BY NAME, so run it in a session where those names resolve
    * (temp views or catalog tables). The graft extension operators
    * emit as stage chains that call the registered `graft_*` functions
    * (`GraftExtensions`). Rejected with a pointer to [[query]] are only
    * the forms whose plan is sized from data at compile time: adaptive
    * dedup/ann geometry or cell counts, and `sample budget=`. A range
    * join whose output would repeat a column name is rejected too. For
    * AST-level tooling, see [[graft.parser.Walk]].
    */
  def compileToSql(
      source: String,
      catalog: String => DataFrame,
      params: Map[String, Column] = Map.empty
  ): String =
    new SqlGen(source, catalog, params).run(Parser.parse(source))
}
