package org.apache.spark

/** Lets the benchmark wait until every posted listener event has been
  * processed, so per-op counters are complete before the next op starts.
  * Lives in this package because the bus is `private[spark]`. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
