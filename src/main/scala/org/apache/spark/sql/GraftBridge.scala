package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Hops to Spark internals. Spark 4 hides the classic Column ⇄
  * catalyst Expression converters behind `private[sql]` (custom
  * expressions such as AvroCodec and ProtoCodec need them) and the
  * listener bus behind `private[spark]`, so this lives in the sql
  * package to reach them.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Column → catalyst Expression.
    *
    * `ExpressionUtils.expression` wraps the column node in an
    * `Unevaluable` `ColumnNodeExpression` — fine inside a Dataset plan
    * (the analyzer unwraps it) but dead weight inside a
    * FunctionRegistry builder, where nothing converts it. The node
    * converter produces the real (possibly unresolved) catalyst tree,
    * which analysis then resolves in either context.
    */
  def expression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** LogicalPlan → DataFrame (`Dataset.ofRows` is private[sql]); the hop
    * a custom logical operator needs to surface as a DataFrame.
    */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every event posted to `sc`'s listener bus so far has
    * reached every listener (`LiveListenerBus.waitUntilEmpty` is
    * private[spark]); throws `TimeoutException` after 10 s.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
