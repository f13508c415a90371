package org.apache.spark.perfbenchshim

import org.apache.spark.sql.SparkSession

/** Access to the driver's listener bus, which is package-private to Spark:
  * the benchmark waits for it to drain before reading listener records. */
object Bus {
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
