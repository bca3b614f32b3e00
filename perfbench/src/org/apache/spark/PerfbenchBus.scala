package org.apache.spark

/** The listener bus is private to Spark; a tracer that reads aggregates
  * right after an action must first let the bus deliver every event. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
