package org.apache.spark

/** The listener bus is private to Spark; this bridge lets a spec wait until
  * every posted event is delivered before it reads a listener's counts. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
