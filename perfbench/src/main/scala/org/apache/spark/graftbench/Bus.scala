package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, whose drain call is Spark-private. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
