package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until Spark's listener bus has delivered every posted event, so the
  * traced run reads complete job, stage and task records. The bus is
  * private to Spark; this accessor lives in Spark's package for that reason. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
