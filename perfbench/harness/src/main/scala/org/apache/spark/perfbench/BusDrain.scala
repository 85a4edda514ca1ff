package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `LiveListenerBus.waitUntilEmpty` is private to Spark. The harness
  * drains the bus after each operation so that every listener event of
  * that operation is recorded before the next one starts. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
