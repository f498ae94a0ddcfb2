package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bridge to the `private[sql]` query execution an execution-end event
  * carries: the same object a `QueryExecutionListener` receives, but tied
  * to the execution id that the execution's Spark jobs carry. */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
