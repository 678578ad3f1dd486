package org.apache.spark

/** The listener bus is private to Spark; the benchmark waits on it so that
  * every job and task event posted before a measurement ends is counted.
  */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.listenerBus.waitUntilEmpty(timeoutMs)
}
