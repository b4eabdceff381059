package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Access bridge for `private[sql]` Expression↔Column conversion in Spark 4
 * (`org.apache.spark.sql.classic.ExpressionUtils`). This is the standard
 * extension-library pattern for registering custom Catalyst expressions
 * without a full SparkSessionExtensions function registry round-trip.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Block until every event posted so far has reached the listeners
    * (`SparkContext.listenerBus` is `private[spark]`). */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Register a SQL function builder into an EXISTING session's registry
    * (the post-hoc form of `SparkSessionExtensions.injectFunction`). */
  def registerFunction(spark: SparkSession, name: String, usage: String,
      builder: Seq[Expression] => Expression): Unit = {
    val identifier = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
    val info = new org.apache.spark.sql.catalyst.expressions.ExpressionInfo("graft", name, usage)
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .registerFunction(identifier, info, builder)
  }
}
