package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Listener events post asynchronously; waiting for the bus to empty is
  * the only way to know a listener has seen every event of a finished
  * action. `listenerBus` is `private[spark]`, hence this package.
  */
object SparkBus {
  def drain(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
