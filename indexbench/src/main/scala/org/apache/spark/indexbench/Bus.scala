package org.apache.spark.indexbench

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every event posted so far —
  * the bus is package-private to Spark, so the benchmark reaches it here. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
