package org.apache.spark

/** The listener bus has no public flush; this one-line bridge lets the
  * benchmark wait until every queued event reached its listeners before
  * it reads their counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
