package org.apache.spark.perfbenchbus

import org.apache.spark.SparkContext

/** The listener bus is asynchronous; reading counters right after an
  * action needs the bus drained, and the drain call is package-private to
  * `org.apache.spark`.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
