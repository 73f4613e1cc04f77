package org.apache.spark

/** Blocks until every event posted so far has reached the listeners. The
  * listener bus is private to Spark; without this, a counter read right
  * after an action can miss that action's last events. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
