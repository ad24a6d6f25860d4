package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark internals the benchmark's tracer reads: the
  * `QueryExecution` carried by an execution-end event, and a drain of
  * the listener bus so every event of a run is seen before the
  * summary is computed.
  */
object SparkInternals {
  def queryExecution(e: SparkListenerSQLExecutionEnd): Option[QueryExecution] = Option(e.qe)

  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
