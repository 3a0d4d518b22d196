package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's trace reads; both are
  * package-private, hence this object's package. */
object PerfbenchHooks {
  /** Wait until Spark has delivered every posted listener event, so a
    * traced call's attribution is complete before it is read. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an ended SQL execution ran: the same object a
    * `QueryExecutionListener` receives, here with its execution id. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
