package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Package bridge to Spark 4's Column <-> Expression conversions,
  * which are private[sql] (Column is ColumnNode-backed since 4.0).
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Package bridge to classic Dataset.ofRows (private[sql]) for
  * wrapping custom LogicalPlan nodes into DataFrames.
  */
object PlanBridge {
  def dataFrame(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
  ): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}

/** Package bridge to `StructType.merge` (private[sql]), the merge
  * Spark's parquet schema inference applies across footers.
  */
object SchemaBridge {
  def merge(
      left: org.apache.spark.sql.types.StructType,
      right: org.apache.spark.sql.types.StructType,
      caseSensitive: Boolean
  ): org.apache.spark.sql.types.StructType = left.merge(right, caseSensitive)
}
