package org.apache.spark

/** The listener bus is package-private; the benchmark's span listener
  * needs it drained before it reads what it attributed.
  */
object GraftBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
