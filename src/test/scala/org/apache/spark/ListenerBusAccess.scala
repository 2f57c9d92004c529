package org.apache.spark

/** Spec access to the listener bus: drain it so a listener has seen
  * every event of the actions that already ran (the bus is `private[spark]`).
  */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
