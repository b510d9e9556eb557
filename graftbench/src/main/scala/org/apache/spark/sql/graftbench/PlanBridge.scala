package org.apache.spark.sql.graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic

/** Re-wraps a rewritten logical plan as a DataFrame of the same session.
  * `Dataset.ofRows` is `private[sql]` in Spark 4.
  */
object PlanBridge {
  def analyzed(df: DataFrame): LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed

  def executedPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan =
    df.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan

  def ofRows(like: DataFrame, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(like.sparkSession.asInstanceOf[classic.SparkSession], plan)
}
