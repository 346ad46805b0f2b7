package org.apache.spark

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener has seen the last task of the run.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
