package org.apache.spark

/** Waits until every event posted to the listener bus has been
  * delivered; Spark keeps the bus package-private.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
