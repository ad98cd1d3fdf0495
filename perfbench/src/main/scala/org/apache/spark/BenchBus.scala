package org.apache.spark

/** The listener bus drains asynchronously; per-pass job tallies are read
  * only after every event of the pass has been delivered. The drain call
  * is package-private to Spark, hence this one-line bridge. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
