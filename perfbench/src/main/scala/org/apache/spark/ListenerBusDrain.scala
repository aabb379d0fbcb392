package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * trace read afterwards is complete. The bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
