package org.apache.spark.graftbenchbridge

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * traced run's job and task counts are complete before they are read.
  * (The listener bus is package-private to Spark, hence this package.) */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
