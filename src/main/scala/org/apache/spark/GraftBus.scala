package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the gate
  * runner waits for queued events before it reads what its recorder saw.
  */
object GraftBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
