package org.apache.spark

/** Waits until every posted listener event has been delivered, so counters
  * read right after an action include all of that action's tasks. */
object BenchListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
