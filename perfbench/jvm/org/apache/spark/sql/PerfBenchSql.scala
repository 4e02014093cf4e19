package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed query of a finished SQL execution, as Spark hands it to
  * its QueryExecutionListeners. The end event carries the execution id,
  * which ties the query's planning tracker to the job tags recorded at
  * the execution's start. */
object PerfBenchSql {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
