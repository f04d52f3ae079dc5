package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Scale design:
  *   - [[bruteForceTopK]] broadcasts the (small) query set against the
  *     corpus — one pass over the corpus, no corpus self-shuffle; this is
  *     the exact baseline and the verifier for the ANN paths.
  *   - [[lshTopK]] buckets vectors by random-hyperplane signs (signs
  *     derived deterministically from md5 of (dim, plane) so the oracle
  *     can re-derive them); candidates meet via an equi-join on bucket id,
  *     turning O(N·Q) into O(N·planes + candidates). The same shape holds
  *     for IVF with learned centroids — plug the centroid table in as the
  *     bucket assignment.
  *
  * Numeric contract: dot products accumulate per-element double casts in
  * array order via `aggregate` (a sequential fold) — bit-identical to
  * DuckDB's `list_sum(list_transform(...))`, so cosine scores are exactly
  * comparable cross-engine (verified empirically).
  */
object Similarity {

  /** Semantic dedup, SemDeDup-shape: drop every vector that has a
    * LOWER-id neighbor at cosine ≥ `threshold` within the same IVF
    * list — cluster first (k-means lists from [[IvfAnn.build]]/
    * [[IvfAnn.assign]]), then compare pairs only inside a cluster, so
    * the pair space is Σ list² instead of N² and each list's self-join
    * is an independent partition-local task. The drop rule is the
    * usual greedy-by-id: a dropped doc still shadows later dups of
    * itself (for a~b, b~c chains both b and c go even when a!~c) —
    * cheaper than connected components and, at the high thresholds
    * semantic dedup runs at, near-identical in effect.
    *
    * `maxListSize` is the quadratic guardrail (same contract as the
    * LSH bucket cap): lists above the cap are EXEMPT from pruning and
    * reported via the `skipped_lists` accounting frame — at sane nlist
    * settings (nlist ≈ √N keeps E[list] ≈ √N) nothing skips, but a
    * degenerate clustering must degrade to under-dedup, never to an
    * OOM. Semantics note: near-identical vectors straddling a list
    * boundary are NOT paired — the recall trade every clustered
    * semantic dedup makes; tighten with larger nlist + [[IvfAnn]]
    * reassignment, or catch residuals with [[lshNearDupPairs]].
    *
    * Returns (survivors, skippedLists). The plan references
    * `assignments` four times (list sizes, both self-join sides, the
    * survivor anti-join) — hand it a MATERIALIZED frame: the persisted
    * IVF index ([[IvfAnn.write]]/[[IvfAnn.read]]) satisfies this
    * naturally (pruned parquet re-scans); a derived frame should be
    * persisted by the caller first. */
  def semanticDedup(assignments: DataFrame, threshold: Double,
      maxListSize: Option[Int] = None): (DataFrame, DataFrame) = {
    val base = assignments.select(col("id"), col("v"), col("list_id"))
    val sizes = base.groupBy(col("list_id")).agg(count(lit(1)).as("n_docs"))
    val skipped = maxListSize match {
      case Some(cap) => sizes.filter(col("n_docs") > cap)
      case None      => sizes.filter(lit(false))
    }
    val eligible = maxListSize match {
      case Some(_) =>
        base.join(broadcast(skipped.select(col("list_id"))),
          Seq("list_id"), "left_anti")
      case None => base
    }
    val a = eligible.select(col("list_id"), col("id").as("id_a"), col("v").as("v_a"))
    val b = eligible.select(col("list_id"), col("id").as("id_b"), col("v").as("v_b"))
    val dupIds = a.join(b, Seq("list_id"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.VectorExpressions.cosine(col("v_a"), col("v_b"))
        >= threshold)
      .select(col("id_b").as("id")).distinct()
    (assignments.join(dupIds, Seq("id"), "left_anti"), skipped)
  }

  /** Sequential-fold dot product with per-element double promotion. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity — one-pass native kernel computing dot + both
    * norms in a single traversal with the same fold order as
    * `SimilarityWitness.cosineDeclarative` (bit-identical, parity spec'd). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.cosine(a, b)

  /** Exact top-k cosine neighbors for each query vector.
    * `queries` must be small enough to broadcast (the usual case: a probe
    * batch against a 100 TB corpus). Excludes self-matches by id. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Coarse-to-fine adaptive retrieval (the Matryoshka-representation
    * pattern, Kusupati et al. 2022): the corpus is scored on the FIRST
    * `prefixDims` dimensions only — MRL-trained embeddings front-load
    * information, so a dim-16 prefix of a dim-64 vector is a usable
    * coarse ranker at a quarter of the bytes (with a prefix-column
    * parquet layout the scan reads only that column) — then ONLY the
    * per-query `shortK` shortlist is re-ranked by full-width cosine.
    * Same broadcast-query one-corpus-pass shape as [[bruteForceTopK]];
    * the refine pass is an id-keyed join at shortlist size, never a
    * second corpus scan's width. Coarse ties (coarse desc, id asc);
    * final ties (cosine desc, id asc); self-matches excluded. Keeps
    * `coarse_cosine` alongside so the prefix/full gap is observable. */
  def prefixRefineTopK(queries: DataFrame, corpus: DataFrame,
      prefixDims: Int, shortK: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(prefixDims >= 1, s"prefixDims=$prefixDims must be >= 1")
    require(shortK >= k, s"shortK=$shortK must cover k=$k")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      slice(col(vecCol), 1, prefixDims).as("qp"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      slice(col(vecCol), 1, prefixDims).as("cp"))
    val coarseW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("coarse_cosine").desc, col("neighbor_id").asc)
    val short = c
      .join(broadcast(q.select(col("query_id"), col("qp"))),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("coarse_cosine", cosine(col("qp"), col("cp")))
      .withColumn("crank", row_number().over(coarseW))
      .filter(col("crank") <= shortK)
      .select(col("query_id"), col("neighbor_id"), col("coarse_cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    short
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("cv")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("coarse_cosine"), col("rank"))
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k most-similar corpus vectors with a DIFFERENT
    * label — the nearest wrong answers, which carry the most gradient
    * signal. Same broadcast-query one-corpus-pass plan as
    * [[bruteForceTopK]]; the label inequality rides the join condition
    * so excluded candidates never score. At 100 TB the corpus side
    * streams through one scan per mining batch; swap in the IVF probe
    * path when the query batch is large. */
  def hardNegatives(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("q_label"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(labelCol).as("n_label"))
    val scored = c.join(broadcast(q), col("q_label") =!= col("n_label"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Semantic decontamination: the embedding-space sibling of the n-gram
    * decontamination family — per TRAIN vector, its max cosine against
    * the (small, broadcast) BENCHMARK embedding set, the nearest bench
    * item achieving it (ties → lowest bench id), and the `contaminated`
    * flag at threshold `tau`. Catches the leaks n-grams miss:
    * paraphrased or translated copies of an eval item score near-1
    * cosine with zero shared 8-grams.
    *
    * Scale shape: benchmark suites are tiny by the decontamination
    * premise, so the bench side broadcasts and the whole computation is
    * ONE corpus pass with a map-side-combinable max(struct) argmax — no
    * window, no shuffle of the train side beyond the final per-id agg.
    * For a bench side too big to broadcast, gate through the IVF probe
    * path ([[IvfAnn.topK]]) and apply the same threshold. */
  def semanticContamination(train: DataFrame, bench: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val t = train.select(col(idCol).as("train_id"), col(vecCol).as("tv"))
    val b = bench.select(col(idCol).as("bench_id"), col(vecCol).as("bv"))
    t.crossJoin(broadcast(b))
      .withColumn("cosine", cosine(col("tv"), col("bv")))
      .groupBy(col("train_id"))
      .agg(max(struct(col("cosine"),
        (-col("bench_id")).cast("long").as("_nb"))).as("_m"))
      .select(col("train_id"),
        (-col("_m._nb")).as("bench_id"),
        col("_m.cosine").as("max_cosine"),
        (col("_m.cosine") >= tau).as("contaminated"))
  }

  /** Streaming admission form of [[semanticContamination]]: drop any
    * incoming row whose embedding's max cosine against the bench set
    * reaches `tau`. The bench matrix ships as a nested array LITERAL
    * (same plan-time-constant pattern as the LSH sign matrix), so the
    * gate is a pure per-row predicate — `exists` over the bench rows,
    * each scored by the one-pass cosine kernel — legal in any streaming
    * position and short-circuiting on the first hit. Benchmark suites
    * are small by the decontamination premise; a bench side beyond
    * literal size belongs on the batch [[semanticContamination]] path. */
  def semanticGate(rows: DataFrame, benchVecs: Seq[Seq[Float]], tau: Double,
      vecCol: String = "embedding"): DataFrame = {
    require(benchVecs.nonEmpty, "empty benchmark set gates nothing")
    val benchLit = typedLit(benchVecs)
    rows.filter(!exists(benchLit,
      bv => cosine(col(vecCol), bv) >= tau))
  }

  /** Approximate top-k over int8-quantized vectors: cosine is
    * scale-invariant, so the per-vector quantization scale cancels and
    * the codes alone score the candidates — the same brute-force plan
    * as [[bruteForceTopK]]. THIS convenience quantizes a float corpus
    * in-flight (it proves the composition; it does not save scan
    * bytes) — the bandwidth win at 100 TB comes from scoring a corpus
    * ALREADY STORED as codes via [[Embeddings.quantizeForStorage]] or
    * [[IvfAnn.quantized]], where the scan reads 1 byte per dimension
    * instead of 4. Ranks can differ from full precision only where
    * true cosines sit within quantization noise; the recall floor is
    * spec-pinned. */
  def quantizedTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    def codes(df: DataFrame) = df.select(col(idCol),
      graft.functions.VectorExpressions.quantizeInt8(col(vecCol))
        .getField("codes").as(vecCol))
    bruteForceTopK(codes(queries), codes(corpus), k, idCol, vecCol)
  }

  /** Deterministic pseudo-random hyperplane coefficient in {-1,+1} for
    * (plane p, dimension d): sign of a bit of md5("p:d") — reproducible in
    * any engine with md5 (the DuckDB oracle re-derives the same signs).
    * Computed DRIVER-SIDE: the signs are constants for fixed dims, so
    * evaluating md5 per (row × plane × dim) on executors — the previous
    * shape — was planes×dims wasted digests per vector at scale. */
  private[operators] def planeSignValue(p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((digest(0) >>> 4) & 1) == 1) 1.0 else -1.0
  }

  /** The ±1 hyperplane matrix for (numPlanes × dims), as literal rows. */
  private[operators] def signMatrix(numPlanes: Int, dims: Int): Array[Array[Double]] =
    Array.tabulate(numPlanes)(p => Array.tabulate(dims)(d => planeSignValue(p, d)))

  /** Embedding dimensionality, read from one row — vectors are
    * fixed-width per corpus, so this is a constant known at plan time.
    * Empty corpus → 0 dims (every downstream join is empty anyway). */
  private def dimsOf(df: DataFrame, vecCol: String): Int =
    df.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)

  /** Random-hyperplane LSH bucket id: one sign bit per plane over the
    * signed sum of vector components. One-pass native kernel against
    * the baked-in sign matrix (`SimilarityWitness.lshBucketDeclarative`
    * is the parity witness — its per-plane interpreted folds walk the
    * vector `numPlanes` times). */
  def lshBucket(vec: Column, numPlanes: Int, dims: Int): Column =
    graft.functions.VectorExpressions.lshBucket(vec, signMatrix(numPlanes, dims))

  /** ANN top-k: only candidates in the query's hyperplane bucket are
    * scored. Recall < 1.0 by construction; callers trade `numPlanes`
    * (bucket granularity) against candidate count. */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, numPlanes: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val dims = dimsOf(corpus, vecCol)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), numPlanes, dims).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), numPlanes, dims).as("bucket"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qv"), col("cv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Embedding near-duplicate pairs: id_a < id_b with cosine above the
    * threshold, bucketed by LSH so the pair join is not O(N²). */
  def embeddingNearDupPairs(corpus: DataFrame, threshold: Double,
      numPlanes: Int = 6, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val v = corpus.select(col(idCol).as("id"), col(vecCol).as("v"),
      lshBucket(col(vecCol), numPlanes, dimsOf(corpus, vecCol)).as("bucket"))
    val a = v.select(col("bucket"), col("id").as("id_a"), col("v").as("va"))
    val b = v.select(col("bucket"), col("id").as("id_b"), col("v").as("vb"))
    a.join(b, Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }
}
