package org.apache.spark.sql.execution.ui

import org.apache.spark.sql.execution.QueryExecution

/** Reads the (private[sql]) query execution an execution-end event
  * carries, so the benchmark's listener can time Catalyst phases of
  * executions that are not Dataset actions. Null when not attached.
  */
object BenchAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
