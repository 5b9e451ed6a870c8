package org.apache.spark.sql.perfbenchbridge

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The two Spark-internal reads the benchmark's tracer needs. */
object Bridge {
  /** Block until every event already posted to the listener bus has been
    * delivered, so the tracer reads complete records. */
  def waitUntilEmpty(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  /** The query execution an execution-end event belongs to (null when
    * the event was replayed without it): links Spark's SQL execution id,
    * which jobs carry, to the `QueryExecution` a listener sees. */
  def queryExecution(e: SparkListenerSQLExecutionEnd): QueryExecution = e.qe
}
