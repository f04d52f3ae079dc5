package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Graph centrality by power iteration — weighted PageRank over an edge
  * frame, and the TextRank instantiation (Mihalcea & Tarau 2004): rank
  * the corpus VOCABULARY over the token co-occurrence graph, the
  * keyword-extraction signal a training-data pipeline uses to profile
  * what a corpus is "about" (reference analog: the token/topic rollups
  * of its log-analytics surface).
  *
  * Scale shape: the expensive part is the EDGE DERIVATION — one narrow
  * corpus pass (adjacent-token pairs) plus one vocabulary-keyed
  * aggregation. The iteration then runs on the aggregated graph, which
  * is vocabulary²-bounded and typically vocabulary-sized — orders of
  * magnitude smaller than the corpus — so ten power-iteration rounds
  * are ten joins on the SMALL frame, each shuffling graph-sized (never
  * corpus-sized) data. At 100 TB the corpus pass dominates and the
  * iteration cost is noise; the corpus itself is read exactly once.
  *
  * Determinism contract (the q153 conventions): damping enters as the
  * INTEGER `dampMilli` and becomes a double only through the pinned
  * shape `milli/1000.0`; per-node in-flows are folded in SOURCE-ID
  * ascending order (`aggregate(array_sort(collect_list(...)))` here,
  * `list_reduce(list_prepend(0.0, list(... ORDER BY src)))` in the
  * oracle); every contribution is `r · (w/W)` with w, W exact integers.
  * Dangling nodes cannot exist by construction when edges are
  * symmetrized ([[textRankEdges]]); for general graphs a dangling
  * node's mass leaks — the standard simplification, identical in both
  * engines.
  */
object GraphRank {

  /** Deterministic weighted PageRank: `edges` is (src, dst, w) with
    * INTEGER weights; returns (id, r) after `iters` synchronous power
    * iterations of
    *
    *   r'(v) = (1000-dampMilli)/1000/N + dampMilli/1000 · Σ_u r(u)·w(u,v)/W(u)
    *
    * with N = |nodes incident to an edge| and W(u) = Σ_v w(u,v). The
    * Σ folds in src-ascending order (see the object contract). Node
    * count is the one driver-side scalar (a single count). */
  def pageRank(edges: DataFrame, iters: Int,
      dampMilli: Long = 850L, symmetricEdges: Boolean = false): DataFrame = {
    require(iters >= 1, "pageRank needs at least one iteration")
    require(dampMilli >= 0L && dampMilli <= 1000L,
      s"dampMilli must be in [0, 1000], got $dampMilli")
    val nodes = Materialize.detached(edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .distinct())
    val n = nodes.count()
    // pinned double shapes — identical operand order in the oracle SQL
    val damp = dampMilli.toDouble / 1000.0
    val base = (1000L - dampMilli).toDouble / 1000.0 / n.toDouble
    val outW = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val e = Materialize.detached(edges.join(outW, Seq("src"))
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wout").cast("double")).as("frac")))
    var ranks = nodes.select(col("id"), lit(1.0 / n.toDouble).as("r"))
    for (_ <- 1 to iters) {
      val inflow = e.join(ranks.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst"), col("src"), (col("r") * col("frac")).as("c"))
        .groupBy(col("dst"))
        .agg(aggregate(
          array_sort(collect_list(struct(col("src"), col("c")))),
          lit(0.0),
          (acc, x) => acc + x.getField("c")).as("flow"))
      // With SYMMETRIZED edges ([[textRankEdges]]) every node has an
      // in-edge, so `inflow` already covers exactly the node set and
      // the per-iteration left join back onto `nodes` is a structural
      // no-op — skipping it removes one join + exchange per iteration
      // (10 of each for TextRank) while producing bit-identical ranks
      // (the coalesce arm can never fire when in-degrees are all ≥ 1).
      // General directed graphs keep the join: a node with out-edges
      // but no in-edges would otherwise vanish from the result.
      ranks =
        if (symmetricEdges)
          inflow.select(col("dst").as("id"),
            (lit(base) + lit(damp) * col("flow")).as("r"))
        else
          nodes.join(inflow.withColumnRenamed("dst", "id"),
              Seq("id"), "left_outer")
            .select(col("id"),
              (lit(base) + lit(damp) * coalesce(col("flow"), lit(0.0))).as("r"))
    }
    ranks
  }

  /** The TextRank graph: undirected token co-occurrence at window 2 —
    * an edge {a, b} weighted by how often a and b are ADJACENT tokens
    * (either order) anywhere in the corpus, emitted symmetrized (both
    * directions, the shared undirected weight) so the random walk has
    * no dangling nodes. Self-loops ("a a") are dropped — standard for
    * TextRank, and a self-loop only feeds a node its own mass anyway.
    * One zip-shift corpus pass (no per-token shuffle — the pair list is
    * built inside the row), one (a, b)-keyed count. */
  def textRankEdges(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val und = undirectedAdjacent(docs, textCol)
    und.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .unionByName(und.select(col("b").as("src"), col("a").as("dst"),
        col("w")))
  }

  /** Undirected adjacent-token pair counts: (a, b, w) with a < b, w =
    * occurrences of the two tokens adjacent in either order anywhere in
    * the corpus; self-pairs dropped. One zip-shift corpus pass. */
  private def undirectedAdjacent(docs: DataFrame,
      textCol: String): DataFrame = {
    val ts = graft.functions.TextFunctions.tokens(col(textCol))
    docs
      .select(explode(arrays_zip(
        slice(ts, lit(1), greatest(size(ts) - 1, lit(0))),
        slice(ts, lit(2), greatest(size(ts) - 1, lit(0))))).as("p"))
      .select(col("p").getField("0").as("x"), col("p").getField("1").as("y"))
      .filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"),
        greatest(col("x"), col("y")).as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
  }

  /** Collocation extraction — Church & Hanks' association ratio as an
    * INTEGER milli proxy: for adjacent-token pairs with c_ab ≥
    * `minCount`,
    *
    *   assoc_milli = (c_ab · N · 1000) div (c_a · c_b)
    *
    * with c_a/c_b token occurrence counts and N the total token count —
    * the same ORDER as PMI = log(N·c_ab/(c_a·c_b)) without ever
    * evaluating the log (the q127 discipline: rank by the exact
    * rational, in integers). The product runs in DECIMAL(38,0)
    * (HUGEINT in the oracle) so no 64-bit ceiling binds before the
    * final bounded quotient. Top `kTop` by (assoc desc, a asc, b asc).
    *
    * Scale shape: one zip-shift corpus pass for pairs, one for unigram
    * counts; the unigram side is vocabulary-sized and BROADCAST onto
    * the pair table twice. N is the one driver scalar (a single agg —
    * the corpusStats pattern). */
  def collocations(docs: DataFrame, minCount: Long, kTop: Int,
      textCol: String = "text"): DataFrame = {
    val uni = Materialize.detached(docs
      .select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c")))
    val n = uni.agg(sum(col("c"))).head().getLong(0)
    // top-k FIRST (TakeOrderedAndProject), then rank the ≤ kTop
    // survivors: a global row_number window over the full filtered pair
    // table would sort the vocabulary²-bounded frame through ONE task
    // (the q163 no-partition-window wall); (assoc, a, b) is a total
    // order — (a, b) is unique — so limit-then-rank selects and numbers
    // exactly the same rows
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("assoc_milli").desc, col("a").asc, col("b").asc)
    undirectedAdjacent(docs, textCol)
      .filter(col("w") >= minCount)
      .join(broadcast(uni.select(col("t").as("a"), col("c").as("c_a"))),
        Seq("a"))
      .join(broadcast(uni.select(col("t").as("b"), col("c").as("c_b"))),
        Seq("b"))
      .withColumn("assoc_milli", expr(
        s"CAST((CAST(w AS DECIMAL(38,0)) * CAST(${n}L AS DECIMAL(38,0)) " +
          "* 1000) div (CAST(c_a AS DECIMAL(38,0)) * " +
          "CAST(c_b AS DECIMAL(38,0))) AS BIGINT)"))
      .orderBy(col("assoc_milli").desc, col("a").asc, col("b").asc)
      .limit(kTop)
      .withColumn("rank", row_number().over(w))
      .select(col("a"), col("b"), col("w").as("c_ab"), col("c_a"),
        col("c_b"), col("assoc_milli"), col("rank"))
  }
}
