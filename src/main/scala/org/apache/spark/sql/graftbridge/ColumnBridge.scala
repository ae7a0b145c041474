package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column <-> catalyst Expression
  * converters (`org.apache.spark.sql.classic.ExpressionUtils`,
  * Spark 4's sanctioned path between the unified Column API and
  * classic catalyst). This is the standard third-party-library escape
  * hatch for registering custom native expressions without a
  * SparkSessionExtensions round-trip; nothing else from the private
  * surface is touched.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Runtime SQL-function registration for sessions built WITHOUT
    * `withExtensions` (the driver's session, via `SparkEntry.entry`): reach the
    * session's FunctionRegistry and register in place, with the full
    * ExpressionInfo (so DESCRIBE FUNCTION reports the native class).
    * Idempotent (registerFunction replaces). Non-classic sessions
    * (e.g. Spark Connect) have no in-process registry — a no-op there
    * rather than a ClassCastException that would break every query in
    * the run.
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark match {
      case classic: org.apache.spark.sql.classic.SparkSession =>
        classic.sessionState.functionRegistry.registerFunction(
          new org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)
      case _ => ()
    }

  /** Append the logical optimizer rules `extensions` injects to an
    * already-built session, through `extraOptimizations` (the
    * post-build injection point, run in the optimizer's last batch).
    * A rule class the session already holds is skipped: a session
    * built with the extension runs it in the operator-optimization
    * batches, and a second copy would run it twice.
    */
  def addOptimizerRules(
      spark: org.apache.spark.sql.SparkSession,
      extensions: org.apache.spark.sql.SparkSessionExtensions => Unit): Unit =
    spark match {
      case classic: org.apache.spark.sql.classic.SparkSession =>
        val ext = new org.apache.spark.sql.SparkSessionExtensions
        extensions(ext)
        val held = (classic.sessionState.optimizer.extendedOperatorOptimizationRules ++
          classic.experimental.extraOptimizations).map(_.getClass).toSet
        val missing = ext.buildOptimizerRules(classic).filterNot(r => held(r.getClass))
        if (missing.nonEmpty)
          classic.experimental.extraOptimizations ++= missing
      case _ => ()
    }

  /** Block until every event posted so far has reached its listeners
    * (query-execution callbacks are delivered asynchronously).
    */
  def drainListeners(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
