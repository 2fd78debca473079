package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark drains the
  * bus before it reads its listener's totals.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
