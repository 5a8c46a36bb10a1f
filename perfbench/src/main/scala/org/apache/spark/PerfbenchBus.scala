package org.apache.spark

/** The listener bus is asynchronous; the traced run reads its counts only
  * after every event posted so far has reached the benchmark's listener.
  */
object PerfbenchBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
