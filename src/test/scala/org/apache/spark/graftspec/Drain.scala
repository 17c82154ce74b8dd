package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so a job
  * count read right after an action is complete. (The listener bus is
  * package-private to Spark, hence this package.) */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
