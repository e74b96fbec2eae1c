package org.apache.spark

/** Waits until every posted listener event has been delivered, so a job
  * counter read right after an action includes all of that action's jobs.
  * Used by `graft.tools.SweepTime` for its per-pass job counts.
  *
  * This relies on a Spark-internal API: `SparkContext.listenerBus` and
  * `LiveListenerBus.waitUntilEmpty` are `private[spark]`, hence this
  * package (checked against Spark 4.1.2). A Spark upgrade that changes or
  * removes them breaks this object's compile, not the engine. */
object SweepListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
