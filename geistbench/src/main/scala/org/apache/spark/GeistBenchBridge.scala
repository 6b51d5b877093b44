package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for queued listener events before it reads job totals.
  */
object GeistBenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000)
}
