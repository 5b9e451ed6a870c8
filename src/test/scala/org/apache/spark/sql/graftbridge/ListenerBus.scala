package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** The listener bus is `private[spark]`; specs that assert on what a
  * `QueryExecutionListener` saw wait on it through this bridge. */
object ListenerBus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)
}
