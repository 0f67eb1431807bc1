package org.apache.spark.graftglue

import org.apache.spark.SparkContext

/** Test access to the `private[spark]` listener bus: a spec that counts
  * events with a SparkListener reads its count only after every posted
  * event has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
