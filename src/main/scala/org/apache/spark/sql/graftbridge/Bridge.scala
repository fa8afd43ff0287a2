package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{ClassicConversions, ColumnConversions, ExpressionColumnNode}

/** Column ⇄ Expression bridge.
  *
  * Spark 4's Connect-compatible `Column` hides its Catalyst expression
  * behind `private[sql]` converters, so libraries that define native
  * Catalyst expressions host a small adapter inside an
  * `org.apache.spark.sql` subpackage — the sanctioned pattern for
  * extension libraries building on the classic execution engine.
  */
object Bridge {
  def column(e: Expression): Column = new Column(ExpressionColumnNode(e))

  def expression(c: Column): Expression = ColumnConversions.expression(c)

  def sessionState(spark: SparkSession) =
    ClassicConversions.castToImpl(spark).sessionState

  def experimental(spark: SparkSession) =
    ClassicConversions.castToImpl(spark).experimental

  /** Wrap a (resolved) logical plan as a DataFrame — the classic
    * `Dataset.ofRows`, which Connect-era Spark keeps `private[sql]`. */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      ClassicConversions.castToImpl(spark), plan)

  /** Analyzed plan of a DataFrame (resolved attributes). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Block until every listener event posted so far has been delivered
    * — listener calls are asynchronous, so a caller that reads what a
    * `SparkListener` recorded for a finished action drains first. The
    * bus is `private[spark]`, hence this package. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Executed physical plan of a StreamingQuery's LAST micro-batch —
    * Connect-era Spark wraps the execution behind `private[sql]`
    * `StreamingQueryWrapper`; gates use this to assert the engine
    * planned the stateful operator they claim (e.g. a watermarked
    * symmetric-hash stream-stream join, not a static join). */
  def lastStreamingExecutedPlan(q: org.apache.spark.sql.streaming.StreamingQuery)
      : Option[org.apache.spark.sql.execution.SparkPlan] = q match {
    case w: org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper =>
      Option(w.streamingQuery.lastExecution).map(_.executedPlan)
    case _ => None
  }
}
