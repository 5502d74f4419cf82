package org.apache.spark

/** The listener-bus drain a test needs before it reads a count a
  * SparkListener kept: events reach listeners asynchronously. */
object TestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
