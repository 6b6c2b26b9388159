package org.apache.spark.sql.graft

import org.apache.spark.SparkContext

/** `private[spark]` view of the SparkContext's listener bus for specs. */
object ListenerBusProbe {
  /** listeners registered on every queue of the bus */
  def listeners(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
