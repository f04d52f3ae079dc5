package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CacheProbe
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Materialize

/** The three uses of [[Materialize]]: what each leaves in the
  * CacheManager and the block managers, and what survives block loss. */
class MaterializeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("materialize-spec", "4").getOrCreate()

  private def entries = CacheProbe.entries(spark)

  /** A frame with a shuffle, distinct per call so no two tests share a
    * cached plan. */
  private def frame(tag: Long): DataFrame =
    spark.range(0, 200, 1, 4).select((col("id") % 17 + tag).as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  private def rows(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("scope releases kept frames on normal exit") {
    val before = entries
    val got = Materialize.scope { s =>
      val a = s.keep(frame(1000))
      val b = s.keep(frame(2000))
      assert(entries == before + 2)
      a.count() + b.count()
    }
    assert(got == 34)
    assert(entries == before)
  }

  test("scope releases kept frames when the block throws") {
    val before = entries
    intercept[IllegalStateException] {
      Materialize.scope { s =>
        s.keep(frame(3000)).count()
        assert(entries == before + 1)
        throw new IllegalStateException("boom")
      }
    }
    assert(entries == before)
  }

  test("scope release drops one frame early and the exit skips it") {
    val before = entries
    Materialize.scope { s =>
      val a = s.keep(frame(4000))
      val b = s.keep(frame(5000))
      a.count()
      s.release(a)
      assert(entries == before + 1)
      b.count()
    }
    assert(entries == before)
  }

  test("detached leaves no CacheManager entry and reads one computation") {
    val before = entries
    val d = Materialize.detached(frame(6000))
    assert(entries == before)
    assert(rows(d) == rows(frame(6000)))
    // the self-join reads the persisted rows on both sides
    assert(d.as("a").join(d.as("b"), col("a.k") === col("b.k")).count() == 17)
    assert(entries == before)
  }

  test("a detached frame's plan prints the plan it caches") {
    val d = Materialize.detached(frame(6500))
    val reader = d.groupBy(col("n")).count()
    reader.collect()
    val plan = reader.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryRelation") &&
      plan.contains("Exchange hashpartitioning(k"),
      s"the cached frame's shuffle is missing from the reader's plan:\n$plan")
  }

  test("release frees a detached frame's blocks now; a later read recomputes") {
    val sc = spark.sparkContext
    val before = BlockLoss.persistedRdds(sc)
    val d = Materialize.detached(frame(6700))
    val healthy = rows(d)
    val ids = BlockLoss.persistedRdds(sc) -- before
    assert(ids.size == 1, s"expected one new persisted RDD, got $ids")
    assert(CacheProbe.rddBlocks(ids.head) > 0, "the read did not persist blocks")
    Materialize.release(d)
    assert(!BlockLoss.persistedRdds(sc).contains(ids.head))
    assert(rows(d) == healthy)
    intercept[IllegalArgumentException] { Materialize.release(frame(6700)) }
  }

  test("detached recomputes after its blocks are lost; a cut cannot") {
    val sc = spark.sparkContext
    val healthy = rows(frame(7000))
    // post-kill reads go through a fresh execution (where(true)): the
    // same Dataset would reuse its already-materialized query stages
    val beforeDetached = BlockLoss.persistedRdds(sc)
    val d = Materialize.detached(frame(7000))
    assert(rows(d) == healthy)
    BlockLoss.killSince(sc, beforeDetached)
    assert(rows(d.where(lit(true))) == healthy,
      "a detached frame keeps its lineage and must recompute")

    val beforeCut = BlockLoss.persistedRdds(sc)
    val c = Materialize.cut(frame(7000))
    assert(rows(c) == healthy)
    BlockLoss.killSince(sc, beforeCut)
    intercept[org.apache.spark.SparkException] { rows(c.where(lit(true))) }
  }

  test("the ContextCleaner frees a detached frame's blocks once it is unreachable") {
    val sc = spark.sparkContext
    val before = BlockLoss.persistedRdds(sc)
    // build and read the frame in a method so no local keeps it alive
    def materializeOnce(): Int = {
      val d = Materialize.detached(frame(8000))
      assert(d.count() == 17)
      val ids = BlockLoss.persistedRdds(sc) -- before
      assert(ids.size == 1, s"expected one new persisted RDD, got $ids")
      ids.head
    }
    val rddId = materializeOnce()
    assert(CacheProbe.rddBlocks(rddId) > 0, "the read did not persist blocks")
    // bounded poll: GC, then give the cleaner thread time to act
    var tries = 0
    while (CacheProbe.rddBlocks(rddId) > 0 && tries < 60) {
      System.gc()
      Thread.sleep(250)
      tries += 1
    }
    assert(CacheProbe.rddBlocks(rddId) == 0,
      s"blocks of RDD $rddId still held after $tries GC rounds")
  }
}
