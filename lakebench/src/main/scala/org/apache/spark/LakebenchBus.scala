package org.apache.spark

/** Deterministic drain of the listener bus (its `waitUntilEmpty` is
  * `private[spark]`): task and query-execution events are delivered
  * asynchronously, so counters are read only after the bus is empty.
  */
object LakebenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
