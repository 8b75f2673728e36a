package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ClassicConversions, Dataset, ExpressionUtils}

/** Expression ⇄ Column bridge. Spark 4 made the converters
  * `private[sql]`, so library code extending Catalyst with custom
  * expressions hops through this subpackage — the standard pattern
  * for session-extension libraries. */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The DataFrame over a custom logical node (`Dataset.ofRows`). */
  def dataFrame(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(ClassicConversions.castToImpl(spark), plan)
}
