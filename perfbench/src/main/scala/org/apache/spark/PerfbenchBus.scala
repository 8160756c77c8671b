package org.apache.spark

/** The listener bus is asynchronous; counts read at a span boundary are
  * only complete once every event posted before it has been delivered.
  * `waitUntilEmpty` is package-private, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
