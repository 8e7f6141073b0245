package org.apache.spark

/** Tests that read listener events (QueryExecutionListener callbacks are
  * delivered asynchronously) wait for the bus to drain first. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
