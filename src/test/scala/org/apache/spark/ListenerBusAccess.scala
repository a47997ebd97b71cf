package org.apache.spark

/** Listener events, and so `SparkStatusTracker`, trail the scheduler.
  * Specs that assert on the tracker first wait for the bus to deliver
  * everything posted so far, which needs the bus, private to this
  * package.
  */
object ListenerBusAccess {
  def settle(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
