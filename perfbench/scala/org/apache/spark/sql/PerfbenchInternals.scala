package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The benchmark's only uses of Spark-internal API. */
object PerfbenchInternals {
  /** Wait until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's query, or null when Spark did not attach it. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
