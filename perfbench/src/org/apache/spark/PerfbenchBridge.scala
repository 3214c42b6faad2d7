package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Reaches the listener bus, which Spark keeps package-private. */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
