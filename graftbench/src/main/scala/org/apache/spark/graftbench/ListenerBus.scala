package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Bridge to `SparkContext.listenerBus` (private[spark]): the harness
  * waits for every queued listener event before it reads what its
  * listeners recorded for a pass. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
