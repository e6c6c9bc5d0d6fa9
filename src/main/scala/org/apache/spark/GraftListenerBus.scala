package org.apache.spark

/** The listener bus is private to Spark; [[graft.tools.CheckpointPlans]]
  * drains it so every query-execution event of a body has reached its
  * listener before the body's checkpoint plans are read. */
object GraftListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
