package org.apache.spark

/** `SparkContext.listenerBus` is private[spark]; the RowProfile
  * diagnostic needs `waitUntilEmpty` so its per-stage report does
  * not race the async event bus (ADVICE r15 — a Thread.sleep could drop
  * late stage completions at bench scale). Exposes exactly that one
  * call, nothing else.
  */
object GraftListenerShim {
  def waitUntilListenerBusEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
