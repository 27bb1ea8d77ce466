package org.apache.spark

/** Blocks until every posted listener event has been delivered, so per-pass
  * counter snapshots include the pass's own task and job events. The live
  * listener bus is `private[spark]`; this one-line bridge is the only reason
  * the benchmark has a file in Spark's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
