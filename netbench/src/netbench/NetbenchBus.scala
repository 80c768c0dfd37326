package org.apache.spark

/** The listener bus delivers `QueryExecutionListener` events
  * asynchronously; draining it is `private[spark]`. */
object NetbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
