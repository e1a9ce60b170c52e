package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so a
  * listener can be unregistered without losing the tail of a traced pass.
  * Lives in Spark's package because the bus is package-private. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
