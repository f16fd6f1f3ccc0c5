package org.apache.spark

/** Access to the listener bus's drain barrier, which Spark keeps
  * package-private: counters read before the bus is empty would miss the
  * last tasks of the measured region. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
