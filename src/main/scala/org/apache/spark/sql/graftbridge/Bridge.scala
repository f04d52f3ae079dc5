package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** Spark 4 made `Column` backend-agnostic: `Column.expr` and
  * `new Column(expr)` are gone, replaced by the `private[sql]`
  * `org.apache.spark.sql.classic.ExpressionUtils`. This bridge (placed
  * under the org.apache.spark.sql package for access) is the one sanctioned
  * crossing point the engine uses to lift custom Catalyst Expressions into
  * Columns, and to build [[graft.core.Materialize.detached]] frames.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `df` over the same columnar cache `persist` builds, without
    * registering it in the CacheManager: the InMemoryRelation that
    * `CacheManager.cacheQuery` makes (same session configs), read
    * through a Dataset of its own. It is filled by the first action
    * that reads it, keeps its lineage, prints its cached plan in
    * `explain`, and its blocks belong to the ContextCleaner once the
    * frame is unreachable. */
  def detached(df: DataFrame, level: StorageLevel): DataFrame = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession
    val off = SQLConf.AUTO_BUCKETED_SCAN_ENABLED +: (
      if (session.sessionState.conf.getConf(
          SQLConf.CAN_CHANGE_CACHED_PLAN_OUTPUT_PARTITIONING)) Nil
      else Seq(SQLConf.ADAPTIVE_EXECUTION_APPLY_FINAL_STAGE_SHUFFLE_OPTIMIZATIONS))
    val planning = SparkSession.getOrCloneSessionWithConfigsOff(session, off)
    val relation = planning.withActive {
      InMemoryRelation(level,
        planning.sessionState.executePlan(ds.queryExecution.analyzed), None)
    }
    Dataset.ofRows(session, relation)
  }

  /** Drop the blocks of a frame made by [[detached]]; a later read
    * recomputes them. */
  def release(df: DataFrame): Unit =
    df.asInstanceOf[Dataset[_]].logicalPlan match {
      case r: InMemoryRelation => r.cacheBuilder.clearCache(blocking = false)
      case p => throw new IllegalArgumentException(
        s"not a detached frame: ${p.nodeName}")
    }
}
