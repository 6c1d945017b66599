package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Column ↔ Expression bridge for third-party Catalyst expressions.
  * `ExpressionUtils` is private[sql] in Spark 4; this is the standard
  * extension-package technique for exposing a custom Expression as a
  * user-facing Column. */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over Catalyst rows (`internalCreateDataFrame` is private[sql]). */
  def dataFrame(spark: SparkSession, rows: RDD[InternalRow], schema: StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** A typed Dataset over a logical plan (`Dataset.apply` is private[sql]). */
  def dataset[T: Encoder](spark: SparkSession, plan: LogicalPlan): Dataset[T] =
    classic.Dataset[T](spark.asInstanceOf[classic.SparkSession], plan)
}
