package org.apache.spark

/** Waits until every listener event posted so far has been delivered.
  * Listener delivery is asynchronous, so the benchmark calls this before it
  * reads its counters for a finished span. (`waitUntilEmpty` is
  * `private[spark]`, hence this package.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
