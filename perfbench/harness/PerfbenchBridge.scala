package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the benchmark makes: block until the
  * listener bus has delivered every posted event.
  */
object PerfbenchBridge {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
