package org.apache.spark

/** The listener bus is private to Spark; a traced pass drains it so every
  * task event of the pass is booked before the pass's figures are read. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
