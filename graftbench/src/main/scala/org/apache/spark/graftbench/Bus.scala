package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** `listenerBus` is `private[spark]`; this is the benchmark's only way
  * to drain it. */
object Bus {
  /** Block until every queued listener event has been delivered. */
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
