package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Materialize

/** The CC convergence tests count what each round evaluated: a round
  * whose materialization did not compute its rows leaves the change
  * tally at 0, and that must throw, not pass for convergence (both the
  * propagation rounds and the pointer-doubling rounds). */
class CcConvergenceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("cc-convergence-spec", "4").getOrCreate()
  import spark.implicits._

  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))

  /** The symmetric, distinct edge set the propagation rounds expect. */
  private def symmetric(pairs: Seq[(Long, Long)]): DataFrame =
    (pairs ++ pairs.map(_.swap)).distinct.toDF("src", "dst")

  private def labels(df: DataFrame): Seq[(Long, Long)] =
    df.orderBy(col("id")).collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq

  private val closed = (1L to 5L).map(_ -> 1L)

  test("propagation rounds: a lazy materialize throws instead of converging on stale labels") {
    val nodes = (1L to 5L).toDF("id")
    val (eager, rounds) = Dedup.propagate(nodes, "id", symmetric(chain), 20,
      (df, _) => Materialize.cut(df))
    assert(labels(eager) == closed)
    assert(rounds > 1)
    val e = intercept[IllegalStateException] {
      labels(Dedup.propagate(nodes, "id", symmetric(chain), 20, (df, _) => df)._1)
    }
    assert(e.getMessage.contains("round 1 evaluated no rows"), e.getMessage)
  }

  test("doubling rounds: a lazy cut throws instead of converging on stale labels") {
    val nodes = (1L to 5L).toDF("id")
    val pairs = chain.toDF("id_a", "id_b")
    val (eager, rounds) = Dedup.doublingRounds(nodes, pairs, "id", "id_a",
      "id_b", 32, Materialize.cut)
    assert(labels(eager) == closed)
    assert(rounds > 1)
    val e = intercept[IllegalStateException] {
      labels(Dedup.doublingRounds(nodes, pairs, "id", "id_a", "id_b", 32,
        identity)._1)
    }
    assert(e.getMessage.contains("round 1 evaluated no rows"), e.getMessage)
  }

  test("an empty edge set still converges: its rounds evaluate no rows because there are none") {
    val nodes = (1L to 3L).toDF("id")
    val none = Seq.empty[(Long, Long)]
    val (prop, propRounds) = Dedup.propagate(nodes, "id", symmetric(none), 20,
      (df, _) => Materialize.cut(df))
    val (dbl, dblRounds) = Dedup.doublingRounds(nodes,
      none.toDF("id_a", "id_b"), "id", "id_a", "id_b", 32, Materialize.cut)
    val own = (1L to 3L).map(i => i -> i)
    assert(labels(prop) == own && propRounds == 1)
    assert(labels(dbl) == own && dblRounds == 1)
  }
}
