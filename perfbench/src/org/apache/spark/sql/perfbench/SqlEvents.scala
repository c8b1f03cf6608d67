package org.apache.spark.sql.perfbench

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The execution-end event's QueryExecution is visible only inside
  * `org.apache.spark.sql`; the benchmark needs it to tie what its
  * QueryExecutionListener saw to a SQL execution id.
  */
object SqlEvents {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(e.qe)
}
