package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's listener needs, which Spark
  * keeps package-private. */
object SparkInternals {
  /** Block until every event posted so far has reached every listener. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query an SQL execution ran (null for executions without one). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
