package org.apache.spark.chatbench

import org.apache.spark.SparkContext

/** The listener bus is package-private; the benchmark waits for it to drain
  * before it reads the counters its listener collected.
  */
object ListenerDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
