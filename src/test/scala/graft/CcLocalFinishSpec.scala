package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Both sides of [[Dedup.LocalFinishEdges]]: the driver-local union-find
  * finish of `connectedComponents` returns the same rows and schema as
  * the distributed propagation rounds (forced with `localFinishEdges =
  * 0`), and the cap decides the path exactly at its boundary. */
class CcLocalFinishSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("cc-local-finish-spec", "4").getOrCreate()
  import spark.implicits._

  private def rows(df: DataFrame) =
    df.orderBy(col("id"), col("comp")).collect().toSeq

  /** Local (default cap) vs distributed (cap 0): same schema, same rows
    * (duplicates included); the local path runs no rounds. */
  private def assertParity(nodes: DataFrame, pairs: DataFrame): Unit = {
    val (local, localRounds) = Dedup.connectedComponentsWithRounds(nodes, pairs)
    val (dist, distRounds) = Dedup.connectedComponentsWithRounds(nodes, pairs,
      maxIter = 500, localFinishEdges = 0)
    assert(localRounds == 0, "a small graph must finish on the driver")
    assert(pairs.isEmpty || distRounds > 0, "cap 0 must take the rounds")
    assert(local.schema == dist.schema)
    assert(rows(local) == rows(dist))
  }

  test("local finish == distributed rounds: random graph, relays, empty, duplicates, isolated, Int ids") {
    // CorpusOpsSpec's 500-node random graph: a bridge and 100+ isolated ids
    val rnd = new scala.util.Random(210L)
    assertParity((0L until 500L).toDF("id"),
      ((0 until 300).map(_ => (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
        .filter { case (a, b) => a != b } :+ (398L, 399L)).toDF("id_a", "id_b"))
    // a relay id smaller than every node id never becomes the label
    assertParity(Seq(3L, 5L, 9L).toDF("id"),
      Seq((0L, 3L), (0L, 5L), (7L, 8L)).toDF("id_a", "id_b"))
    // an empty edge set is within any cap, so both calls finish locally:
    // pin the expected labels directly
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assertParity((1L to 5L).toDF("id"), empty)
    assert(rows(Dedup.connectedComponents((1L to 5L).toDF("id"), empty))
      .map(r => r.getLong(0) -> r.getLong(1)) == (1L to 5L).map(i => i -> i))
    // null node ids emit no row on either path; null endpoints are inert
    assertParity(Seq(Some(1L), None, Some(2L), Some(3L)).toDF("id"),
      Seq((Some(1L), Some(2L)), (None, Some(3L))).toDF("id_a", "id_b"))
    // duplicate node rows are kept, each with its component
    assertParity(Seq(1L, 1L, 2L, 3L, 3L, 4L).toDF("id"),
      Seq((2L, 1L), (3L, 4L)).toDF("id_a", "id_b"))
    // isolated nodes keep their own id next to a chain and a triangle
    assertParity((1L to 12L).toDF("id"),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (8L, 9L), (7L, 9L))
        .toDF("id_a", "id_b"))
    assertParity((1 to 9).toDF("id"),
      Seq((1, 2), (2, 3), (5, 6), (9, 8)).toDF("id_a", "id_b"))
  }

  test("local finish closes a 3,000-node chain like pointer doubling") {
    val n = 3000L
    val ids = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // the default maxIter (20) bounds only the distributed rounds
    val (local, rounds) = Dedup.connectedComponentsWithRounds(ids, chain)
    assert(rounds == 0)
    assert(rows(local) == rows(Dedup.connectedComponentsDoubling(ids, chain)))
    assert(local.filter(col("comp") =!= 0L).isEmpty)
  }

  test("cap boundary: k symmetric edge rows finish locally, k + 1 take the rounds") {
    val nodes = (1L to 6L).toDF("id")
    // 3 pairs = 6 symmetric rows; a self-loop adds exactly one row and
    // changes no component
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val looped = pairs.unionByName(Seq((5L, 5L)).toDF("id_a", "id_b"))
    val k = 6
    val (atCap, atRounds) =
      Dedup.connectedComponentsWithRounds(nodes, pairs, localFinishEdges = k)
    val (overCap, overRounds) =
      Dedup.connectedComponentsWithRounds(nodes, looped, localFinishEdges = k)
    assert(atRounds == 0, "k edge rows are within the cap")
    assert(overRounds > 0, "k + 1 edge rows must take the distributed path")
    assert(atCap.schema == overCap.schema)
    assert(rows(atCap) == rows(overCap))
    assert(rows(atCap).map(r => r.getLong(0) -> r.getLong(1)) ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 6L -> 6L))
  }
}
