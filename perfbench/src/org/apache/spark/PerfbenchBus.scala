package org.apache.spark

/** Blocks until every event posted so far has reached the registered
  * listeners, so listener totals read after an action are complete.
  * The listener bus is package-private to Spark, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
