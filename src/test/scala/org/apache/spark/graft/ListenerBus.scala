package org.apache.spark.graft

import org.apache.spark.SparkContext

/** The listener bus is `private[spark]`; specs that count scheduler
  * events read their listener only after every event posted so far has
  * been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
