package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is private to Spark; this one call is the only reason the
  * benchmark has a file in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
