package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Test view of a context's registered listeners (the bus is
  * `private[spark]`). */
object Listeners {
  def count(sc: SparkContext): Int = sc.listenerBus.listeners.size
}
