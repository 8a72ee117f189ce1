package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** Waits until every posted listener event has been delivered, so the
  * trace rollup sees all job, task and SQL-execution events. */
object SparkInternals {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
