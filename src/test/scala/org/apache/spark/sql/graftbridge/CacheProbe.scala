package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.RDDBlockId

/** Test-scope reads of Spark's package-private cache state, for specs
  * that assert an operator leaves no persisted Dataset or block behind. */
object CacheProbe {
  def entries(spark: SparkSession): Int =
    spark.sharedState.cacheManager.numCachedEntries

  /** Blocks of RDD `rddId` held by any block manager. */
  def rddBlocks(rddId: Int): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true).size
}
