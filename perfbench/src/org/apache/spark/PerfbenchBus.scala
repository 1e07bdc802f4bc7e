package org.apache.spark

/** Waits until every event posted so far has reached every listener, so
  * counters read after an action include all of its task-end events.
  * (The listener bus is package-private; this is its only use here.)
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
