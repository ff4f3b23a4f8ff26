package org.apache.spark

/** Waits until every posted listener event has been delivered, so that
  * counters read at a span boundary include the work of that span. The
  * listener bus is `private[spark]`, hence the package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
