package org.apache.spark

/** Blocks until every posted listener event has been delivered, so stage
  * records are complete before the harness reads them. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
