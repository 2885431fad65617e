package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * benchmark's counters are complete when a pass is scored.
  * `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence this shim.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
