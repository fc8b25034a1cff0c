package org.apache.spark

/** Access to the driver's listener bus, which is package-private. */
object BenchBus {
  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
