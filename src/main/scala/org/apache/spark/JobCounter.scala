package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block of code starts. The live listener bus is
  * `private[spark]`, which is why this sits in Spark's package. */
object JobCounter {
  /** Runs `body` and returns its value with the number of jobs started on
    * `sc` meanwhile. The bus is drained before the listener is added and
    * before the count is read, so no earlier job is counted and none of
    * the block's is missed. */
  def apply[A](sc: SparkContext)(body: => A): (A, Long) = {
    val started = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, started.get)
    } finally sc.removeSparkListener(listener)
  }
}
