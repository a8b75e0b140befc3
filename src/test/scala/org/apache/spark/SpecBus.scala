package org.apache.spark

/** Lives in Spark's package to reach the listener bus: a spec waits for
  * every posted event before it reads its listener's counts. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
