package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution Spark attaches to an SQL execution-end event.
  * The field is `private[sql]` in Spark 4, and it is the only place where
  * an execution's id and its executed plan meet: a
  * `QueryExecutionListener` gets the plan without the id.
  */
object ExecutionEnd {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
