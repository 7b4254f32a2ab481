package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so per-op task metrics are complete before they are read.
  * Lives in `org.apache.spark` because the bus is package-private. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
