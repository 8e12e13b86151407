package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal calls the harness needs. */
object Bridge {
  /** Wait until every event posted so far has reached the listeners, so
    * per-op counters are complete before they are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The query execution an end event reports on (null for some commands). */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
