package org.apache.spark.sql.graftx

import org.apache.spark.sql.SparkSession

/** Test bridge to `private[spark]` surfaces; no logic. */
object testShims {
  /** Block until the listener bus has delivered every posted event. */
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
