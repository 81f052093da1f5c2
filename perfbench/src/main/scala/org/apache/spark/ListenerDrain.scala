package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so
  * listener counters read after an action include that action's tasks. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
