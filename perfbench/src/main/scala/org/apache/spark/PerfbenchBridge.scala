package org.apache.spark

/** Access to the listener bus drain, which Spark keeps package-private:
  * per-layer counts are read only after every queued event is delivered. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
