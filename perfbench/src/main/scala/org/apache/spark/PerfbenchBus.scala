package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so the
  * traced run can attribute job, task and plan events to the call that
  * caused them before the next call starts.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
