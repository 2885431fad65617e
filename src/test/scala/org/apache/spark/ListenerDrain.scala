package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so a
  * test's listener counts are complete when it reads them.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this shim.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
