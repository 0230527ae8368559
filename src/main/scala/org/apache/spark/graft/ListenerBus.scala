package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the context's listener bus, which Spark keeps
  * package-private: events are delivered asynchronously, and code that
  * counts them must wait until every posted event was handled. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
