package org.apache.spark

/** Waits until every posted listener event has been delivered, so a traced
  * run writes out complete spans. The bus is only reachable from this
  * package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
