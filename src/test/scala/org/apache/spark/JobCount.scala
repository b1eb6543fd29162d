package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs `body` launches. Listener events arrive
  * asynchronously; the (package-private) listener bus is drained before
  * the listener is added and before the count is read, so no job of
  * earlier work is counted and none of `body`'s is missed.
  */
object JobCount {
  def of[A](sc: SparkContext)(body: => A): (A, Int) = {
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
