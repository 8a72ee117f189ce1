package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset, SparkSession}

/** Minimal bridge into `private[sql]` planner surface: turning a custom
  * [[LogicalPlan]] (e.g. [[graft.plans.AsofJoin]]) into a DataFrame needs
  * `classic.Dataset.ofRows`, whose companion is sql-private. Living in a
  * subpackage of `org.apache.spark.sql` grants access — the same pattern
  * Spark connector libraries use.
  */
object SqlBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark, plan)

  /** `df`'s rows as an RDD scan carrying `df`'s statistics and
    * partitioning — the plan `localCheckpoint` returns, without the
    * checkpoint: the RDD keeps its lineage, so it reads a cached `df`'s
    * blocks and recomputes lost ones, while plans over it no longer
    * embed `df`'s plan. */
  def rddScan(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    Dataset.ofRows(ds.sparkSession,
      org.apache.spark.sql.execution.LogicalRDD.fromDataset(
        ds.queryExecution.toRdd, ds, isStreaming = false))
  }

  /** Lift a raw Catalyst [[Expression]] into the public Column API (the
    * Spark 4 Column is a ColumnNode wrapper; `ExpressionUtils.column` is
    * the sql-private bridge connector libraries use). */
  def column(e: org.apache.spark.sql.catalyst.expressions.Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** Unwrap a Column back to its Catalyst [[Expression]]. */
  def expression(c: org.apache.spark.sql.Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}
