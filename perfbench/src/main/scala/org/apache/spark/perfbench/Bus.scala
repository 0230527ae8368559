package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is delivered asynchronously; the trace reads its
  * totals only after every posted event has been handled. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
