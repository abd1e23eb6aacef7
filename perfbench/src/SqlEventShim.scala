package org.apache.spark.sql.perfbenchshim

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Reads the `QueryExecution` an execution-end event carries (a field
  * private to `org.apache.spark.sql`), so the traced run can place each
  * action at the time Spark stamped on its end. */
object SqlEventShim {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
