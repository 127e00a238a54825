package org.apache.spark

/** Blocks until every event posted so far has reached the registered
  * listeners, so listener state read after an action is complete. The
  * listener bus is package-private to Spark, hence this package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
