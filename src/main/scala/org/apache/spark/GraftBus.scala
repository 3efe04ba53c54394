package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far.
  * The bus is private to Spark, so [[graft.core.Work]] reaches it through
  * this one object in Spark's package.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
