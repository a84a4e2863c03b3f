package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Catalyst-Expression bridge.
  *
  * Spark 4 wraps Columns in `ColumnNode`s and scopes the converters
  * `private[sql]`; a library adding native codegen expressions needs
  * this one-file shim inside the `org.apache.spark.sql` package tree —
  * the standard extension-library idiom. Everything else in graft stays
  * in its own namespace and on public APIs.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** EAGER ColumnNode → Catalyst conversion. [[expression]] wraps the
    * node lazily (`ColumnNodeExpression`), whose `.sql` renders a
    * useless `columnnodeexpression(...)` placeholder; SQL-text
    * generation ([[graft.compiler.SqlGen]]) needs the real converted
    * tree.
    */
  def resolvedExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** The session's `spark.sql.defaultSizeInBytes` — the sentinel value
    * plan statistics report for relations Spark cannot estimate
    * (`sessionState` is `private[sql]`, hence surfaced here).
    */
  def defaultSizeInBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.defaultSizeInBytes

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (≤ 0 when broadcasting is disabled), parsed as Spark parses it.
    */
  def autoBroadcastJoinThreshold(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.autoBroadcastJoinThreshold

  /** Block until every event already posted to the listener bus has
    * been delivered (`listenerBus` is `private[spark]`), so a listener
    * count read afterwards is exact.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The error ANSI `element_at` raises for an index past the end of
    * an array (`QueryExecutionErrors` is `private[sql]`).
    */
  def invalidElementAtIndexError(
      index: Int, numElements: Int, ctx: org.apache.spark.QueryContext): Throwable =
    org.apache.spark.sql.errors.QueryExecutionErrors.invalidElementAtIndexError(index, numElements, ctx)

  /** Register a temp SQL function on a LIVE session (the
    * `spark.sql.extensions` config path only applies at session build).
    */
  def registerTempFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")
}
