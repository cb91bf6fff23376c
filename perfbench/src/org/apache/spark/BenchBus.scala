package org.apache.spark

/** Access to the `private[spark]` listener bus: task-end events arrive
  * asynchronously, so counts read right after an action are complete only
  * once the bus has delivered everything queued before it.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
