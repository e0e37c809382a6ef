package org.apache.spark

/** Waits until every queued listener event has been delivered, so task
  * metrics of a finished operation are complete before they are read.
  * Lives in Spark's package because the listener bus is package-private.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
