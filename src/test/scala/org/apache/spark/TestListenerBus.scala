package org.apache.spark

/** Test access to the package-private listener bus: blocks until every
  * event posted so far has reached its listeners, so a listener's
  * counts are complete when a test reads them. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
