package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Package-private Spark state the traced run reads. */
object PerfbenchBridge {
  /** The listener bus delivers events asynchronously; the traced run drains
    * it after each operation so that every event of the operation is counted
    * before the next one starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The action name and QueryExecution that a QueryExecutionListener would
    * receive for this execution. */
  def action(e: SparkListenerSQLExecutionEnd): (Option[String], Option[QueryExecution]) =
    (e.executionName, Option(e.qe))
}
