package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Minimal bridge into private[sql] surface: build a DataFrame from a
  * custom LogicalPlan, read a DataFrame's analyzed plan and read the
  * partition count Spark gives leaf scans. This is the
  * standard extension-point pattern for libraries that add whole
  * operators (logical node + strategy) on top of the public API. */
object GraftBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.analyzed

  def leafParallelism(spark: SparkSession): Int =
    spark.asInstanceOf[classic.SparkSession].leafNodeDefaultParallelism
}
