package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; the bus's drain call is
  * package-private, so the benchmark reaches it from Spark's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
