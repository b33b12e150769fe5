package org.apache.spark

/** Test access to the listener bus: waits until every posted event has
  * reached the listeners, so a test counting jobs sees all of them. */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
