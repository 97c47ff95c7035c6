package org.apache.spark

/** Waits until the listener bus has delivered every posted event, so
  * counters read at a span boundary include the span's own tasks. The
  * bus is package-private; this is the only reason the benchmark has a
  * file in Spark's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
