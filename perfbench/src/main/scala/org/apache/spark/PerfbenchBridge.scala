package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Access to the `private[spark]` listener bus, so the benchmark's
  * tracer can wait for every posted event before it reads its tallies. */
object PerfbenchBridge {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
