package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]. The benchmark drains it
  * at every span boundary so each listener event is charged to the span
  * that caused it, not to whichever span is current when the async bus
  * gets round to it.
  */
object PerfBenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
