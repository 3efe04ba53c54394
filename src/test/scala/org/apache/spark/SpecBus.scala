package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far
  * (the bus is private to Spark), so a spec's listener has seen every
  * job it started.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
