package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted to the context's listener bus has
  * been delivered, so a test's `SparkListener` has seen every job its
  * action launched. The bus is `private[spark]`; a test helper in a
  * subpackage of org.apache.spark reaches it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
