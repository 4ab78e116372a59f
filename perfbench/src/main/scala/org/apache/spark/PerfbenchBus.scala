package org.apache.spark

/** Listener-bus drain for the benchmark's counters: SparkListener events
  * are delivered asynchronously, so a snapshot taken right after a job
  * returns can miss its last task and stage events.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
