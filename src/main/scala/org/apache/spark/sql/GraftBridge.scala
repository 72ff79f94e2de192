package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into the package-private Column <-> Catalyst Expression
  * converters (Spark 4 moved Column to a connect-agnostic ColumnNode
  * representation; the classic converters are private[sql]). */
object GraftBridge {
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** Eagerly convert the ColumnNode tree to a Catalyst expression tree
    * (the default conversion is a lazy wrapper the analyzer only expands
    * in plan position — FunctionRegistry builders need the real tree). */
  def eagerExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Tag a batch plan's rows as a streaming micro-batch (the engine
    * asserts isStreaming=true on DSv1 Source.getBatch results; the
    * classic creator is private[sql]). */
  def streamingDataFrame(spark: SparkSession, batch: DataFrame): DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(
        batch.queryExecution.toRdd, batch.schema, isStreaming = true)

  /** Resolve a predicate Column against a schema via the analyzer,
    * yielding a typed, coercion-applied Catalyst tree (e.g.
    * `LessThan(AttributeReference, Cast(Literal))`) that file-pruning can
    * pattern-match — the same shape the reference's planner hands to
    * PruneDataFiles. */
  def resolvePredicate(spark: SparkSession, schema: StructType,
      pred: Column): Expression = {
    val df = spark.createDataFrame(
      java.util.Collections.emptyList[Row](), schema)
    df.filter(pred).queryExecution.analyzed.collectFirst {
      case f: logical.Filter => f.condition
    }.getOrElse(expression(pred))
  }

  /** The classic SQLContext behind a session (DSv1 Source constructors
    * take it; the accessor is classic-only in Spark 4). */
  def sqlContext(spark: SparkSession): SQLContext =
    spark.asInstanceOf[classic.SparkSession].sqlContext

  /** Wrap a hand-built logical plan as a DataFrame (classic
    * Dataset.ofRows is private[sql]); the seam custom operators use to
    * re-enter the public DataFrame algebra above their plan node. */
  def ofRows(spark: SparkSession, plan: logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** Block until every posted scheduler event has reached its listeners
    * (the listener bus is private[spark]), so totals a SparkListener
    * keeps are complete for the jobs that ran so far. */
  def awaitListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
