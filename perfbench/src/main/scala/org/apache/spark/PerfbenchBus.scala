package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark waits for queued events before it reads what its listeners
  * recorded.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
