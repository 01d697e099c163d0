package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column <-> Expression bridge for custom Catalyst expressions.
  *
  * Spark 4 made the classic `Column(expr)` constructor and `col.expr`
  * accessor `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`)
  * to keep the public Column API Connect-compatible. A library that ships
  * native `Expression`s (e.g. [[graft.plans.RollingHash]]) still needs the
  * classic bridge, so we expose it from inside the package — the same seam
  * Spark's own `functions` object uses.
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom logical plan (classic Dataset.ofRows). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a frame (for embedding under custom nodes). */
  def analyzedPlan(df: Dataset[_]):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  /** Block until every event posted so far has reached every listener
    * (`private[spark]`; listener delivery is asynchronous). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** How many query-execution listeners the session has and how many bus
    * listeners its SparkContext has (`private[sql]` and `private[spark]`
    * lists) — what a listener's `close()` must restore. */
  def executionListenerCount(spark: SparkSession): Int =
    spark.listenerManager.listListeners().length
  def busListenerCount(sc: org.apache.spark.SparkContext): Int =
    sc.listenerBus.listeners.size

  /** Entries in the session's CacheManager (`numCachedEntries` is
    * `private[sql]`) — the leak count a cache sweep must bring back to
    * its baseline. */
  def cachedEntries(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .numCachedEntries

  /** Register a SQL function on an ALREADY-RUNNING session (the
    * `SparkSessionExtensions` path in [[graft.plans.GraftExtensions]] only
    * applies at session build time). */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
