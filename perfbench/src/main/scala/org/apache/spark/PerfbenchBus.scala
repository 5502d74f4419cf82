package org.apache.spark

/** Waits until every event posted so far has reached the listeners, so a
  * span's counters are complete before they are read. The listener bus is
  * internal to Spark; this object lives in its package only to reach it.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
