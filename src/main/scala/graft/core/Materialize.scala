package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.storage.StorageLevel

/** The engine's one materialization lifecycle. No other code in
  * `src/main` persists or unpersists a frame; each site picks one of
  * three uses:
  *
  *   - [[scope]]: reuse inside one operator. Frames kept with
  *     `s.keep` are released when the block exits, normally or by
  *     exception; `s.release` drops one early (deferred-release loops).
  *   - [[detached]]: a frame the operator RETURNS, whose returned plan
  *     reads it more than once. It leaves no CacheManager entry, keeps
  *     its lineage, and its blocks are freed by the ContextCleaner once
  *     the frame is unreachable, or by [[release]] where the owner
  *     knows it is dead.
  *   - [[cut]]: the lineage cut of an iterative loop.
  *
  * One storage level, MEMORY_AND_DISK, everywhere. Two lineage cuts
  * with their own semantics stay at their call sites: the reliable
  * checkpoint of the connected-components rounds and the BPE trainer's
  * lazy local checkpoint. */
object Materialize {
  private val Level = StorageLevel.MEMORY_AND_DISK

  final class Scope private[Materialize] () {
    private var kept = List.empty[DataFrame]

    /** Persist `df` until the scope exits (or [[release]]). */
    def keep(df: DataFrame): DataFrame = {
      kept ::= df.persist(Level)
      df
    }

    /** Drop `df`'s cache entry now, before the scope exits. */
    def release(df: DataFrame): Unit = {
      kept = kept.filterNot(_ eq df)
      df.unpersist(false)
    }

    private[Materialize] def close(): Unit = {
      kept.foreach(_.unpersist(false))
      kept = Nil
    }
  }

  def scope[T](body: Scope => T): T = {
    val s = new Scope
    try body(s) finally s.close()
  }

  def detached(df: DataFrame): DataFrame = Bridge.detached(df, Level)

  /** Free a [[detached]] frame's blocks now, where its owner knows no
    * plan reads it again; a later read recomputes it. */
  def release(df: DataFrame): Unit = Bridge.release(df)

  /** Cut `df`'s lineage now: local blocks, no lineage. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)
}
