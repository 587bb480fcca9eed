package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private.
  * The traced run drains the bus at every span boundary so that each
  * job, task and query-execution event lands in the span that caused it. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
