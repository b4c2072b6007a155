package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * benchmark drains it before reading its listener's totals. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
