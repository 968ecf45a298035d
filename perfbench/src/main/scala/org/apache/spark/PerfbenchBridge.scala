package org.apache.spark

/** The one `private[spark]` member the benchmark needs: listener events
  * are delivered asynchronously, so a pass's counters are read only
  * after the bus has drained.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
