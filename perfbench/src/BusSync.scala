package org.apache.spark

/** The listener bus is asynchronous; a summary read before it drains
  * misses the last events. `waitUntilEmpty` is package-private. */
object BusSync {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
