package org.apache.spark.perfbench

import org.apache.spark.sql.SparkSession

/** The one Spark-internal call the tracer needs: listener events are
  * delivered asynchronously, so totals are read only after the bus has
  * delivered everything posted so far. */
object SparkInternals {
  def drainListeners(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
