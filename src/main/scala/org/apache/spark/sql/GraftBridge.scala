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

  /** Unpersist every RDD-backed leaf (`LogicalRDD`) in `df`'s analyzed
    * plan — the block-manager storage a `localCheckpoint(true)` result
    * carries (its own checkpoint, plus any checkpointed small
    * aggregates embedded in a still-lazy plan). `spark.catalog
    * .clearCache()` does NOT reach these: they are RDD-level persists,
    * not CacheManager entries. After this call the dataset's
    * checkpointed data is gone and it must not be recomputed from.
    */
  def unpersistPlanRdds(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

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
