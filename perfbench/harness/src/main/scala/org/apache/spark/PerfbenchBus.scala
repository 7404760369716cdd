package org.apache.spark

/** Lets the traced run wait, between two operations, until every
  * listener event posted so far has been delivered, so each event is
  * attributed to the operation that caused it. The wait sits outside
  * every timed span. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
