package org.apache.spark

/** Waits until every queued listener event has been delivered, so a
  * trace read after the timed phase holds all of its jobs and tasks.
  * Lives in Spark's package because the listener bus is private there.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
