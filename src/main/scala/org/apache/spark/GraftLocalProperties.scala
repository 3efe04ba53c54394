package org.apache.spark

import java.util.Properties

import org.apache.spark.util.Utils

/** Carries a thread's Spark local properties (job group, job tags,
  * scheduler pool, description, SQL execution ids) onto another thread.
  * The accessors are private to Spark, so [[graft.core.Overlap]] reaches
  * them through this one object in Spark's package.
  */
object GraftLocalProperties {

  /** The calling thread's local properties of the active context, copied. */
  def capture(): Option[(SparkContext, Properties)] =
    SparkContext.getActive.map(sc => sc -> Utils.cloneProperties(sc.getLocalProperties))

  /** Run `body` with `captured` as the thread's local properties, then
    * put the thread's own properties back.
    */
  def within[T](captured: Option[(SparkContext, Properties)])(body: => T): T =
    captured match {
      case None => body
      case Some((sc, props)) =>
        val own = sc.getLocalProperties
        sc.setLocalProperties(props)
        try body finally sc.setLocalProperties(own)
    }
}
