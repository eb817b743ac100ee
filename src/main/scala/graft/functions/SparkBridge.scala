/* Bridge into Spark 4's private[sql] Column↔Expression converters —
 * the standard extension-library escape hatch (Spark 4 removed the
 * public Column(expr) constructor; sql.classic.ExpressionUtils is the
 * blessed internal path used by Spark's own connectors).
 */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Column → catalyst Expression via the full node converter —
    * unlike `ExpressionUtils.expression`, which wraps any
    * non-catalyst-backed node (e.g. `functions.coalesce`'s
    * UnresolvedFunction) in an Unevaluable ColumnNodeExpression leaf
    * that the analyzer never touches, the converter lowers every node
    * kind to a real (possibly unresolved) catalyst expression the
    * analyzer then resolves.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Register a named SQL function on a live session (the
    * FunctionRegistry is private[sql]).
    */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression
  ): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** FunctionRegistry builder for a typed Aggregator UDAF — the same
    * ScalaAggregator expression `spark.udf.register` would plant, but
    * shaped as a builder so `SparkSessionExtensions.injectFunction`
    * can carry it (UDAFs otherwise only reach SQL through a live
    * session's UDFRegistration).
    */
  def aggregatorBuilder(
      udf: expressions.UserDefinedFunction
  ): Seq[Expression] => Expression = {
    val uda = udf.asInstanceOf[expressions.UserDefinedAggregator[_, _, _]]
    children => execution.aggregate.ScalaAggregator(uda, children).toAggregateExpression()
  }

  /** Drop a temp function if present (registry is private[sql]). */
  def dropFunction(spark: SparkSession, name: String): Unit =
    spark.sessionState.functionRegistry
      .dropFunction(catalyst.FunctionIdentifier(name))

  /** Storage-level RDD ids of the cached relations a Dataset reads —
    * the ids `SparkContext.getRDDStorageInfo` reports for those caches
    * (a Dataset's own `.rdd.id` is a fresh deserialized RDD, NOT the
    * cached buffers). Lets a caller judge residency of SPECIFIC caches
    * instead of every cached RDD in the session.
    */
  def cachedRddIds(df: Dataset[_]): Seq[Int] =
    df.queryExecution.executedPlan.collect {
      case s: execution.columnar.InMemoryTableScanExec =>
        s.relation.cacheBuilder.cachedColumnBuffers.id
    }

  /** Replay a SparkSessionExtensions' injected functions onto a live
    * session's registry — exactly what BaseSessionStateBuilder does at
    * session build; lets tests exercise the `spark.sql.extensions`
    * deployment path without tearing down the shared test session.
    */
  def applyInjectedFunctions(spark: SparkSession, ext: SparkSessionExtensions): Unit =
    ext.registerFunctions(spark.sessionState.functionRegistry)

  /** Blocks until every listener event posted so far has been delivered
    * (the listener bus is private[spark]).
    */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
