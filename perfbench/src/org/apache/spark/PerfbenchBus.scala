package org.apache.spark

/** Blocks until every event already posted to the listener bus has been
  * delivered. The bus has no public flush; the benchmark drains it at op
  * and phase boundaries so each Spark event is counted against the op
  * (and phase) whose time window posted it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
