package org.apache.spark.sketchbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so the
  * benchmark's listener has seen all task ends of an op before the op's
  * metrics are read. `listenerBus` is `private[spark]`; this object lives
  * under `org.apache.spark` only to reach it.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
