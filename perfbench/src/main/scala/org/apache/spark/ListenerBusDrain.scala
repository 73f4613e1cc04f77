package org.apache.spark

/** Blocks until every event posted so far has reached the listeners.
  * The listener bus is private to Spark; without this, counters read
  * right after an action can miss that action's last events. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
