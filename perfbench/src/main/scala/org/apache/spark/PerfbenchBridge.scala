package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The listener bus is `private[spark]`; the benchmark drains it before it
  * reads its listener's counters, so late task-end events are not lost. */
object PerfbenchBridge {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(30000L)
}
