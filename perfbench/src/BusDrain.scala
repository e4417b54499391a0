package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * traced query's counters are complete before the benchmark reads them.
  * Lives in this package because `SparkContext.listenerBus` is private to it. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
