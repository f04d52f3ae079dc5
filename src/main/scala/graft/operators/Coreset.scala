package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Diversity coreset selection — Gonzalez farthest-point k-center
  * (Gonzalez 1985, the 2-approximation every coreset pipeline leans
  * on): pick the point farthest from the selected set, k times. The
  * corpus-level companion to [[Diversify.mmrSelect]] (which diversifies
  * one query's TOP-K at serve time; this selects k representatives of
  * the WHOLE corpus — the "pick k maximally-spread exemplars for
  * curriculum seeding / eval panels / centroid init" workload).
  *
  * Deterministic and cross-engine exact: embeddings quantize on the
  * PCA grid (floor(x·1024 + 0.5) — exact double arithmetic on every
  * engine), distances are integer-exact squared L2 in doubles (≤ 2^28
  * per coordinate pair sum, far under 2^53), the seed is the smallest
  * id, and every argmax tie-breaks (dist desc, id asc). The q213
  * oracle re-runs all k rounds as a chained CTE and the selections
  * hash-compare.
  *
  * Scale shape: k passes, each one narrow codegen scan of the corpus
  * folding `mind = least(mind, dist(x, newest-center))` plus a
  * TakeOrdered(1) argmax; the selected centers ride the plan as k·dim
  * literal longs (kilobytes). State persists between rounds and the
  * previous round's cache releases as soon as the next materializes
  * (the deferred-release discipline) — at 100 TB this is k linear
  * scans, no quadratic pair stage anywhere. */
object Coreset {

  /** (rank, vec_id, sel_dist, radius): the k selected exemplars in
    * selection order — sel_dist is the farthest-point distance that
    * won the round (0 for the seed) — plus the k-center objective,
    * radius = max over the corpus of the distance to its nearest
    * selected center (identical on every row; the q200 bign shape). */
  def kCenter(corpus: DataFrame, k: Int, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = Materialize.scope { m =>
    require(k >= 1, s"k must be at least 1, got $k")
    val spark = corpus.sparkSession
    import spark.implicits._
    val q = m.keep(corpus.select(col(idCol).cast("long").as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * Pca.QuantScale + 0.5).cast("long"))
        .as("qv")))
    def centerLit(c: Array[Long]) = array(c.map(lit(_)): _*)
    val seedRows = q.orderBy(col("id").asc).limit(1).collect()
    if (seedRows.isEmpty)
      throw new IllegalArgumentException(
        s"Coreset.kCenter: empty corpus - cannot select $k centers")
    val seed = seedRows(0)
    var selected = Vector((1L, seed.getLong(0), 0L))
    var selectedIds = Set(seed.getLong(0))
    var state = m.keep(q.withColumn("mind", graft.functions.VectorExpressions
      .sqDist(col("qv"), centerLit(seed.getSeq[Long](1).toArray))))
    var prev: Option[DataFrame] = None
    for (t <- 2 to k) {
      // farthest UNSELECTED point (selected points sit at mind 0 once
      // their own fold lands, but a duplicate-saturated corpus could
      // tie them at the top — the explicit exclusion keeps Gonzalez's
      // contract on any input, and the oracle carries the same NOT IN)
      val farRows = state.filter(!col("id").isin(selectedIds.toSeq: _*))
        .orderBy(col("mind").desc, col("id").asc).limit(1).collect()
      if (farRows.isEmpty)
        // fewer distinct ids than k: fail with the actionable count
        // instead of an ArrayIndexOutOfBounds mid-loop (the kept frames
        // still release as the scope exits)
        throw new IllegalArgumentException(
          s"Coreset.kCenter: k = $k exceeds the corpus's " +
            s"${selectedIds.size} distinct id(s)")
      val far = farRows(0)
      selected :+= ((t.toLong, far.getLong(0), far.getDouble(2).toLong))
      selectedIds += far.getLong(0)
      val next = m.keep(state.withColumn("mind", least(col("mind"),
        graft.functions.VectorExpressions.sqDist(col("qv"),
          centerLit(far.getSeq[Long](1).toArray)))))
      // the argmax above was this round's action over `state`; the
      // NEXT action reads `next`, so the old cache can go after one
      // more round (deferred release — the BPE trainer discipline)
      prev.foreach(m.release)
      prev = Some(state)
      state = next
    }
    val radius = state.agg(max(col("mind"))).collect()(0).getDouble(0).toLong
    selected.toDF("rank", "vec_id", "sel_dist")
      .withColumn("radius", lit(radius))
  }
}
