package org.apache.spark

/** Waits until every posted scheduler and SQL listener event has been
  * delivered, so that counters read after an action are complete. The
  * listener bus is `private[spark]`; this file only re-exports the wait.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
