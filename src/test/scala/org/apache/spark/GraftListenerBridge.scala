package org.apache.spark

/** Access to the listener-bus drain, which Spark keeps package-private: a
  * spec that counts jobs with a `SparkListener` must see every event posted
  * so far before it reads its counter. */
object GraftListenerBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
