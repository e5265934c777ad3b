package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: the
  * benchmark waits for it to drain before reading listener counters.
  */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
