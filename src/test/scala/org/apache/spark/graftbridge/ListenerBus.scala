package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Test access to the context's listener bus, which is private[spark]. */
object ListenerBus {
  /** Block until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
