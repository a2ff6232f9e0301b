package org.apache.spark

/** Access to the listener bus, which is package-private to Spark: the
  * traced run drains it after every item so that each item's events are
  * counted before the next item starts. */
object E2eBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
