package org.apache.spark

/** Access to the listener bus, which Spark keeps package-private: the
  * traced run waits for every queued event before it reads its
  * listener's counters.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
