package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]`/`private[spark]` Spark internals
  * (the standard extension-library technique: an object inside the
  * `org.apache.spark.sql` tree). Exposes what the engine's custom
  * Catalyst expressions need (Column↔Expression conversion, session
  * function registration), state-store unloading, and the listener-bus
  * drain `graft.Harness` uses.
  */
object Bridge {

  def column(e: Expression): Column = ExpressionUtils.column(e)

  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Full column-node → catalyst conversion through the session's
    * converter (handles sort order, lazy wrappers) — unlike the lazy
    * [[expression]], the result is a plain serializable expression tree. */
  def expression(spark: org.apache.spark.sql.SparkSession, c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  def registerFunction(
      spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Unload every loaded state-store provider on this executor.
    * Providers of a TERMINATED streaming query stay cached in
    * `StateStore.loadedProviders` until the maintenance task gets
    * around to them; a complete-mode aggregation's providers hold the
    * full keyed state on-heap (q264: one counter per (day, user)).
    * Safe to call between queries — a still-active query simply
    *  reloads its providers from the checkpoint on its next batch. */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.unloadAll()

  /** Return once every event posted to the `private[spark]` listener
    * bus so far has reached every listener. */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
