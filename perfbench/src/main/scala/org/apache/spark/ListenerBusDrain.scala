package org.apache.spark

/** Waits until every queued listener event has been delivered, so span
  * counters read after a traced run include all of that run's tasks.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
