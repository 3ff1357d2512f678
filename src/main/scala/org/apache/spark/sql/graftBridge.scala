package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into the `private[sql]` Column↔Expression converters —
  * the standard pattern for libraries shipping custom Catalyst
  * expressions on Spark 4 (Column wraps a ColumnNode, not an
  * Expression, so `new Column(expr)` no longer exists).
  */
object graftBridge {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** EAGER Column→Expression conversion. [[expressionOf]] wraps the
    * ColumnNode lazily, which Dataset API paths unwrap — but an
    * expression returned from a FunctionRegistry builder is spliced
    * straight into the analyzer's tree, where a lazy wrapper survives
    * to codegen and dies. Registry builders must use this one.
    */
  def analyzedExpressionOf(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Apply an extensions installer to a registry — lets tests verify
    * `spark.sql.extensions` wiring without building a second
    * SparkContext (registerFunctions is private[sql]).
    */
  def appliedFunctionRegistry(installer: SparkSessionExtensions => Unit)
      : org.apache.spark.sql.catalyst.analysis.FunctionRegistry = {
    val ext = new SparkSessionExtensions
    installer(ext)
    ext.registerFunctions(
      new org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry)
  }

  /** Block until every listener event posted so far has been
    * delivered (`listenerBus` is private[spark]). A tally read after
    * this sees every task of the jobs that have already ended.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
