package org.apache.spark

/** Test access to the listener bus's drain barrier, which Spark keeps
  * package-private: a job counter read before the bus is empty would miss
  * the last events of the measured call. */
object SpecBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
