package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * call's trace is complete before it is read. The listener bus is internal
  * to Spark, hence this package. */
object PhasebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
