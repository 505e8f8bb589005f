package org.apache.spark

/** Waits until every queued listener event has been delivered, so a traced
  * run reads complete job and task records before it aggregates them.
  */
object GraftbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
