package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.SparkSession

/** Test-scope read of the package-private CacheManager entry count, for
  * specs that assert an operator leaves no persisted Dataset behind. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries
}
