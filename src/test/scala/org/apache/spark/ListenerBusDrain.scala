package org.apache.spark

/** Test access to the listener bus (package-private to Spark): block
  * until every posted event has reached the listeners, so a job count
  * taken right after an action is complete. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
