package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * spec's SparkListener has seen every job of the calls before it. Lives
  * in Spark's package because the listener bus is private there.
  */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
