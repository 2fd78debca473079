package org.apache.spark

/** Listener events are delivered asynchronously; specs that read a
  * listener's record drain the bus first (`listenerBus` is private[spark]).
  */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
