package org.apache.spark

/** Waits until every queued listener event has been delivered, so a spec
  * can count what its listeners saw (the bus is private to Spark). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
