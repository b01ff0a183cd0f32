package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action must first wait for the bus to drain.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
