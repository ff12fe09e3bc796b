package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so the
  * census read after a query or a trigger is complete. The listener bus is
  * private to Spark; this object only lives in Spark's package to reach it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
