package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{ExpressionUtils, Dataset => CDataset, SparkSession => CSparkSession}

/** Bridge to `private[sql]`/`private[spark]` surfaces (Spark 4.x moved Column↔Expression
  * behind `org.apache.spark.sql.classic.ExpressionUtils`, and
  * `Dataset.ofRows` — the LogicalPlan→DataFrame constructor custom
  * operators need — behind `classic.Dataset`). Lives in a subpackage of
  * `org.apache.spark.sql` solely to satisfy the access modifier; keep
  * this file free of any logic.
  */
object shims {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    CDataset.ofRows(spark.asInstanceOf[CSparkSession], plan)
  def analyzed(df: DataFrame): LogicalPlan = df.queryExecution.analyzed
  /** Block until the listener bus has delivered every posted event. */
  def drainListeners(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
