package org.apache.spark

/** Bridge to the `private[spark]` listener bus: listener events arrive
  * asynchronously, so a reader of job/stage counters waits for every posted
  * event to be delivered before reading them. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
