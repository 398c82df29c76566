package org.apache.spark

/** The listener bus is `private[spark]`; the traced run waits on it so that
  * every job, task and query event of a query has been delivered before the
  * query's records are read. Never called on an untraced run.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
