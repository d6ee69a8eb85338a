package org.apache.spark

/** Reaches the listener bus, which is private to Spark, so that counters
  * are read only after every posted event has been delivered.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
