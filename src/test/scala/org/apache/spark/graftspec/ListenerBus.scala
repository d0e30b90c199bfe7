package org.apache.spark.graftspec

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so a
  * spec reads complete job records from `statusTracker` without sleeping.
  * The bus is private to Spark; this accessor lives in Spark's package for
  * that reason. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
