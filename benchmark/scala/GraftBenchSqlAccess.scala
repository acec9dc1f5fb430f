package org.apache.spark.sql

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The query execution an end event carries is package-private to Spark
  * SQL; the traced run joins it with QueryExecutionListener callbacks to
  * attribute planning time to the span that ran the query. */
object GraftBenchSqlAccess {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)
}
