package org.apache.spark.cdcbench

import org.apache.spark.SparkContext

/** Listener events arrive asynchronously; counters read at a span
  * boundary or at the end of a run must first let the bus drain.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
