package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the context's listener bus, which Spark keeps package-private:
  * listener events arrive asynchronously, so the benchmark drains the bus
  * before it reads what its listener recorded. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
