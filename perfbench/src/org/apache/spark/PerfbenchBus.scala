package org.apache.spark

/** Lives in Spark's package to reach the listener bus: the benchmark waits
  * for every posted event before it reads its listener's totals. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
