package org.apache.spark

/** Reaches the listener bus, which Spark keeps package-private: listener
  * totals are only complete once every posted event has been delivered. */
object KgbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
