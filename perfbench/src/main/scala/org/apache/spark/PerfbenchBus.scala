package org.apache.spark

/** Listener events are delivered asynchronously; the traced run must see
  * every task-end event of a job before it reads the totals. Draining the
  * bus needs package access. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
