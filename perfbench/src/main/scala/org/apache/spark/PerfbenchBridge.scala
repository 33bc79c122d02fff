package org.apache.spark

/** Access to the engine's listener bus, which is package-private: the
  * tracer drains it at op boundaries so every event of an op is counted
  * before the next op starts. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
