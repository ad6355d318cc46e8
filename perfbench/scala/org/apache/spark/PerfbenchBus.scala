package org.apache.spark

/** Drains Spark's asynchronous listener bus so per-call job and task counts
  * are complete before they are read. The bus is `private[spark]`; this
  * one-line bridge is the only reason the benchmark declares a class in a
  * Spark package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
