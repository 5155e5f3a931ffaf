package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so a
  * listener's counts are complete when read. The listener bus is
  * package-private to Spark; this is the one reason the benchmark has a
  * file in Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
