package org.apache.spark.sql.syncbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The executed query of an execution-end event, which Spark keeps
  * package-private; null when the event carries none. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
