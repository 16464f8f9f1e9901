package org.apache.spark

/** The listener bus delivers events asynchronously; per-layer counters read
  * after a phase must wait for it to drain first. `waitUntilEmpty` is
  * package-private to Spark, hence this file's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
