package org.apache.spark

/** Waits until every posted listener event has been delivered, so the
  * traced numbers of one pass are complete before the next pass starts. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
