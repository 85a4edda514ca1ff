package org.apache.spark

/** Test access to the driver's listener bus, which is private[spark]:
  * waits until every event posted so far has reached its listeners, so
  * that `SparkStatusTracker` reflects every job that already ran. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
