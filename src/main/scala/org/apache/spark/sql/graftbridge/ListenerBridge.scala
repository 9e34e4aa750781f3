package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Listener-bus bridge: `SparkContext.listenerBus` is `private[spark]`,
  * but a measurement that reads listener counters must first wait until
  * the asynchronous bus has delivered every event posted so far. Same
  * one-hop pattern as [[ColumnBridge]]. */
object ListenerBridge {
  /** Blocks until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()

  /** `SparkListener`s on the context's bus plus the session's
    * `QueryExecutionListener`s. */
  def listenerCount(spark: SparkSession): Int =
    spark.sparkContext.listenerBus.listeners.size + spark.listenerManager.listListeners().length
}
