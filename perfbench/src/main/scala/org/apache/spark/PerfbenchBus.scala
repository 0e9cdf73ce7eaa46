package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * span's counters include the events of the work it timed. The bus is
  * `private[spark]`, hence this package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
