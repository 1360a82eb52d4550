package org.apache.spark

import org.apache.spark.sql.SparkSession

/** The two engine-internal probes the benchmark needs: a deterministic
  * listener-bus drain and the session's query-cache state.
  */
object PerfBenchBridge {

  /** Block until every event posted so far has reached every listener. */
  def drainListenerBus(spark: SparkSession, timeoutMs: Long): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(timeoutMs)

  /** True when no Dataset is registered in the shared cache manager. */
  def cacheManagerEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
}
