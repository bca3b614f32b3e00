package org.apache.spark

/** The listener bus is private to Spark; a test that counts a listener's
  * events right after an action must first let the bus deliver them. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
