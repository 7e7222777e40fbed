package org.apache.spark.sql

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the tracer needs. */
object BenchBridge {
  /** Listener events arrive on a background thread: wait until the bus
    * has delivered every event posted so far. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The finished execution's `QueryExecution` (planning phase times and
    * the executed plan with its metrics); null when not in this JVM. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
