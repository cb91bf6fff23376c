package org.apache.spark

/** Access to the `private[spark]` listener bus for specs: listener events
  * arrive asynchronously, so a count read right after an action is
  * complete only once the bus has delivered everything queued before it.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
