package org.apache.spark

/** Waits until every posted listener event has been delivered, so that a
  * test's listener counts are complete when read after an action. The
  * listener bus is `private[spark]`; this object only re-exports the wait.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
