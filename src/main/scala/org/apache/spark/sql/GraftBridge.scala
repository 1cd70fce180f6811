package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` Column↔Expression conversion (Spark 4 moved
  * `Column.expr` behind org.apache.spark.sql.classic.ExpressionUtils).
  * Standard extension-library pattern: one tiny file living in the
  * org.apache.spark.sql package, everything else stays in graft.*. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Eager Column→Expression conversion. `expression` wraps the column
    * in a LAZY ColumnNodeExpression that only the DataFrame analysis
    * path unwraps — an expression returned from an injected SQL function
    * builder is already "resolved" from the analyzer's point of view and
    * the wrapper survives to codegen, which throws. This converter
    * produces the real catalyst tree (any UnresolvedFunction children
    * are ordinary unresolved nodes the analyzer then resolves). */
  def resolvedExpression(c: Column): Expression =
    classic.ColumnNodeToExpressionConverter(c.node)

  /** Stable per-session identifier (private[sql] in Spark 4) — used as a
    * cache key that survives GC, unlike identityHashCode. */
  def sessionUUID(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  /** Uncorrelated scalar subquery over a one-row/one-column frame. Spark
    * plans it as its own job and embeds the result — the supported way
    * to feed a computed scalar (e.g. an aggregated bloom filter) into an
    * expression without a driver-side collect. */
  def scalarSubquery(df: Dataset[_]): Expression =
    catalyst.expressions.ScalarSubquery(df.queryExecution.analyzed)

  /** Wrap a logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]) — the entry point for custom LogicalPlan nodes. */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
