package org.apache.spark

import org.apache.spark.sql.SparkSession

/** Access to the SparkContext's listener bus, which is private to Spark. */
object BenchBridge {
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
