package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Waits until every queued listener event has been delivered, so a
  * counter read right after an action includes that action's jobs,
  * stages and tasks (the listener bus is asynchronous).
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
