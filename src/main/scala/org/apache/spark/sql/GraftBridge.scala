package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Minimal bridge into `private[sql]` surface: Column ⇄ Expression for
  * graft's native Catalyst expressions (the classic-backend equivalent
  * of what `Column(expr)` did pre-Spark-4).
  */
object GraftBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a raw LogicalPlan (classic Dataset.ofRows). */
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Post a custom event to every listener of `spark`'s context
    * (`listenerBus` is private[spark]).
    */
  def post(spark: SparkSession,
           event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    spark.sparkContext.listenerBus.post(event)

  /** Flush the async listener bus (QueryExecutionListener events post
    * asynchronously) — lets tests read listener-captured plans
    * deterministically. `listenerBus` is private[spark].
    */
  def waitListenerBusEmpty(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Apply a SparkSessionExtensions module to an existing session's
    * function registry (for tests / already-built sessions; at build
    * time use `.withExtensions` / `spark.sql.extensions`).
    */
  def registerExtensionFunctions(ext: SparkSessionExtensions => Unit,
                                 spark: SparkSession): Unit = {
    val e = new SparkSessionExtensions
    ext(e)
    e.registerFunctions(spark.sessionState.functionRegistry)
  }
}
