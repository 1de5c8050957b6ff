package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.StructType

/** Hops to Spark internals. Spark 4 hides the classic Column ⇄
  * catalyst Expression converters and the InternalRow → DataFrame
  * constructor behind `private[sql]` (custom expressions such as
  * AvroCodec and ProtoCodec need the former, `Dlq` the latter), and
  * the listener bus and the block-freeing call behind
  * `private[spark]`, so this lives in the sql package to reach them.
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

  /** Catalyst rows → DataFrame with `schema`, no per-row conversion
    * (`SparkSession.internalCreateDataFrame` is private[sql]). The rows
    * must match `schema` and must not be reused buffers if the RDD is
    * cached.
    */
  def internalDataFrame(spark: SparkSession, rows: RDD[InternalRow],
                        schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Drop `rdd`'s blocks without `RDD.unpersist`'s WARN for a locally
    * checkpointed RDD ("its lineage has been truncated"), which a
    * deliberate free of a dead cut does not need
    * (`SparkContext.unpersistRDD` is private[spark]).
    */
  def unpersistQuietly(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Block until every event posted to `sc`'s listener bus so far has
    * reached every listener (`LiveListenerBus.waitUntilEmpty` is
    * private[spark]); throws `TimeoutException` after 10 s.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
