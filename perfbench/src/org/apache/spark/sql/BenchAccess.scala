package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listeners need, which are
  * package-private to Spark: waiting until every posted listener event has
  * been delivered, so counts read after a phase include all of its jobs;
  * and the query execution an execution-end event belongs to, which ties a
  * QueryExecutionListener callback (keyed by query id) to the job group of
  * its jobs (keyed by execution id).
  */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
