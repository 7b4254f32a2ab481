package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so
  * far, so a test's listener has seen all of an action's stages before
  * it is read. Lives in `org.apache.spark` because the bus is
  * package-private. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
