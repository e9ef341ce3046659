package org.apache.spark

/** The listener bus's drain is `private[spark]`; the traced run waits on it
  * so every event of a span is counted before the span closes. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
