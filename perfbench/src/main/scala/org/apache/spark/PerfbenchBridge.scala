package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private: the
  * traced run must see every job, stage and query event before it reads its
  * counters. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
