package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so an
  * op's job, task and query events are all counted before the next op
  * starts. The listener bus is private to Spark; this package is
  * inside it. */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
