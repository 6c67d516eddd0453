package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a traced
  * call's jobs, stages and task metrics are all recorded before the
  * benchmark reads them. `listenerBus` is `private[spark]`, hence this
  * package. */
object Settle {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
