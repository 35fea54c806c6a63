package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run's job and task counters are complete before they are read.
  * (The bus is package-private to Spark.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
