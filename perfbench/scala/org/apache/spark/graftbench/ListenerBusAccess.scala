package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus drain is `private[spark]`; the tracer needs it so a
  * span's counters are complete before they are read. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
