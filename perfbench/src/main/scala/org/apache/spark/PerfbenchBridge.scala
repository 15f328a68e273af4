package org.apache.spark

/** Access to the listener bus drain, which is private[spark]: a traced
  * span must not be read before every task-end event of its jobs has
  * reached the listener.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
