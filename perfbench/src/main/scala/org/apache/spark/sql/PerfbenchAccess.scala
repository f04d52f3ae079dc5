package org.apache.spark.sql

import org.apache.spark.SparkContext

/** The two package-private reads the benchmark's ledger needs. */
object PerfbenchAccess {
  /** Blocks until every posted listener event has been delivered, so the
    * job, task and query events of an operation are all booked. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Number of CacheManager entries (persisted Datasets) alive now. */
  def cacheEntries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
