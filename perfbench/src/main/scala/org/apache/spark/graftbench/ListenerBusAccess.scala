package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; the benchmark drains it before
  * reading what its listeners collected, so no event is still queued. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
