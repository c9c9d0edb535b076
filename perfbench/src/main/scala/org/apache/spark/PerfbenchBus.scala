package org.apache.spark

/** The listener bus is `private[spark]`; the traced run must drain it before
  * reading listener counts, or a late event would be missed or land in the
  * next query's record. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
