package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far
  * (`waitUntilEmpty` is private[spark]), so a spec's listener has seen all
  * of an action's jobs without a sleep.
  */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
