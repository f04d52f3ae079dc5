package graft

import org.apache.spark.SparkContext

/** The local-mode stand-in for losing the executors that hold a run's
  * blocks: every RDD persisted since `before` (cached DataFrames and
  * checkpoint/persist blocks alike) drops its blocks. */
object BlockLoss {
  def persistedRdds(sc: SparkContext): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  def killSince(sc: SparkContext, before: Set[Int]): Unit =
    sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
      .values.foreach(_.unpersist(blocking = true))
}
