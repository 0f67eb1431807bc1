package org.apache.spark.perfbenchglue

import org.apache.spark.SparkContext

/** Waits until the listener bus has delivered every posted event, so a
  * listener's tallies are complete when an operation's metrics are read.
  * `listenerBus` is `private[spark]`, hence this package. */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
