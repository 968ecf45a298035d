package org.apache.spark

/** The one `private[spark]` member the specs need: listener events are
  * delivered asynchronously, so a spec reads what a listener saw only
  * after the bus has drained.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
