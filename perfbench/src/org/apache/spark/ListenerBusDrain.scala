package org.apache.spark

/** The listener bus delivers events asynchronously; the traced run reads
  * its job, stage and task records only after every posted event has been
  * delivered. `SparkContext.listenerBus` is package-private, hence this
  * one-line bridge. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
