package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-layer counters are read only after every event has arrived. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
