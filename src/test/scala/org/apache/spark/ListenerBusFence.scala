package org.apache.spark

/** Waits until every queued listener event has been delivered. The listener
  * bus is asynchronous, so a listener's counts for an action are complete
  * only once the events its jobs posted have drained; `listenerBus` is
  * `private[spark]`, hence this one-line accessor in Spark's package. */
object ListenerBusFence {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
