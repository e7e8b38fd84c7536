package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Two Spark internals the traced runs need, reachable only from inside
  * the `org.apache.spark.sql` package: the wait for the listener queue to
  * empty, so no event is read before it has arrived, and the query an
  * execution-end event belongs to, which ties a `QueryExecutionListener`
  * callback to the execution id its jobs carry.
  */
object Internals {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryOf(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
