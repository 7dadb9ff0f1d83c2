package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * traced unit's counters are complete before they are read. The bus is
  * package-private to Spark, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
