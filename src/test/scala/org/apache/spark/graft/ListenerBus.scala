package org.apache.spark.graft

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; tests that count
  * listener events drain it through this. */
object ListenerBus {
  /** Block until every queued listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
