package org.apache.spark

/** The listener bus is `private[spark]`. [[ptx.tools.Metrics]] drains it at
  * both ends of a window, so the window's record holds every event its body
  * caused and none of an earlier body's. */
object MetricsBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
