package org.apache.spark

/** Test bridge to the private[spark] listener bus (the way GraftShim
  * bridges private[sql]): blocks until every posted event has reached
  * the listeners, so a listener's counts are complete when read.
  */
object GraftTestShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
