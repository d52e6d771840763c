package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into `private[sql]` surface: Column ⇄ catalyst Expression.
  * Lives under org.apache.spark.sql so the sql-private accessors resolve —
  * the established pattern for Spark extension libraries that add custom
  * expressions without forking (same Spark version pinned in build.sbt). */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** DataFrame from a raw LogicalPlan (`Dataset.ofRows` is private[sql])
    * — needed to hand custom logical nodes (graft.plans.AsOfJoinPlan) to
    * the session. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Register a SQL function on an EXISTING session
    * (`sessionState.functionRegistry` is private[sql]) — the runtime
    * path of graft.functions.SqlFunctions; config-time registration goes
    * through SparkSessionExtensions.injectFunction instead. */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** A clone of `spark` (`cloneSession` is private[sql]): same shared
    * state, a copy of its conf, temp views, functions and listeners —
    * the seam of [[graft.Sessions.scoped]]. */
  def cloneSession(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .cloneSession()

  /** The listener bus that `spark`'s own streaming query manager put on
    * the SparkContext's shared bus: Spark registers one per session that
    * touches `streams` and never removes it (the manager's field is
    * private, hence the reflection). */
  def streamingBus(spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.scheduler.SparkListenerInterface = {
    val m = classOf[org.apache.spark.sql.classic.StreamingQueryManager]
    val f = m.getDeclaredField("listenerBus")
    f.setAccessible(true)
    f.get(spark.streams)
      .asInstanceOf[org.apache.spark.scheduler.SparkListenerInterface]
  }

  /** Delete `dir` (a file or a whole tree) when the JVM exits
    * (`ShutdownHookManager` is private[spark]): Spark's temp-dir hook,
    * which runs after the SparkContext has stopped. */
  def deleteOnExit(dir: java.io.File): Unit =
    org.apache.spark.util.ShutdownHookManager.registerShutdownDeleteDir(dir)

  /** How many streaming query buses sit on `spark`'s shared bus. */
  def streamingBusCount(spark: org.apache.spark.sql.SparkSession): Int =
    spark.sparkContext.listenerBus.findListenersByClass[
      org.apache.spark.sql.execution.streaming.runtime
        .StreamingQueryListenerBus].size
}
