package org.apache.spark

/** The listener bus is private to Spark; this one-line bridge lets the
  * benchmark wait until every posted event is delivered before reading
  * its counters, instead of sleeping and hoping. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
