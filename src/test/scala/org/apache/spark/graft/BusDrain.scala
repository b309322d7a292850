package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * test's listener counts are complete before they are read. The wait
  * is package-private in Spark, hence this bridge. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
