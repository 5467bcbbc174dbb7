package org.apache.spark

/** Waits until every queued listener event has been delivered
  * (`SparkContext.listenerBus` is `private[spark]`), so a spec counting
  * jobs with a `SparkListener` sees all of them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
