package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Lives under `org.apache.spark` for `private[spark]` access to the
 * listener bus: the trace reads its counters only after every event of
 * the traced jobs has been delivered. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
