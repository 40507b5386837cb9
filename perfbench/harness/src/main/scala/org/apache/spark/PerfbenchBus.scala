package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run drains it so every task of a call is counted before the
  * call's counters are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
