package org.apache.spark.sql

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` surface, the standard pattern for
  * Spark-native libraries that ship custom Catalyst expressions (the same
  * access trick Sedona / frameless / Delta use): Column⇄Expression
  * conversion, session-local native-function registration, and the two
  * reads `graft.Ledger` needs. Everything else in graft goes through the
  * public API; keep this file tiny.
  */
object GraftSqlBridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Register a NATIVE expression builder (not a UDF) on a live session. */
  def registerFunction(spark: SparkSession, name: String, info: ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .registerFunction(FunctionIdentifier(name), info, builder)

  /** The query execution an execution-end event carries — the object
    * every `QueryExecutionListener` is handed, read here so one listener
    * keys its Catalyst phase times by execution id. */
  def executionOf(e: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd)
      : Option[org.apache.spark.sql.execution.QueryExecution] = Option(e.qe)

  /** Block until every listener has seen every event posted so far. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
