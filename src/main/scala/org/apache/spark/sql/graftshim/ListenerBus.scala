package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two listener-bus hops `graft.Measure` needs that Spark keeps
  * private: waiting until every posted event has been delivered, so a run's
  * job, stage and task records are complete without sleeping, and the
  * `QueryExecution` Spark attaches to an in-process SQL execution's end
  * event, which carries that execution's planning phases. */
object ListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
