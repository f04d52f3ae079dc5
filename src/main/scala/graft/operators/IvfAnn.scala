package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** IVF (inverted-file) approximate nearest neighbor: learned KMeans
  * centroids partition the corpus into `nlist` lists; a query scores only
  * the vectors in its `nprobe` nearest lists.
  *
  * This is the learned-bucket counterpart of [[Similarity.lshTopK]] with
  * the exact same join shape: bucket assignment is O(corpus·nlist) once
  * (and is itself a Spark job), the probe join is an equi-join on
  * list id, so query cost is O(corpus·nprobe/nlist) instead of O(corpus).
  * At 100 TB the assignment table is written once (partitioned by
  * list_id, giving partition pruning on probes) and reused.
  *
  * Invariant the spec pins: nprobe == nlist degenerates to exactly the
  * brute-force result (same scores, same order).
  */
object IvfAnn {

  final case class IvfIndex(assignments: DataFrame, centroids: DataFrame)

  /** Lloyd iteration count of the deterministic trainer — fixed so the
    * (nlist, iters) pair fully determines the build (an explicit
    * convergence test would make the job count data-dependent, which
    * the bench anchoring treats as a regression signal). 10 rounds
    * under the k-means++ init: measured SSE at iters=10 is within
    * 0.05% of iters=20 on both sf0.01 (464.77 vs 464.17) and sf0.1
    * (1893.9 vs 1892.4) — the D²-sampled seeds start near the optimum
    * (the init alone is O(log k)-competitive per the k-means++ paper),
    * so the farthest-point era's 20 rounds pay double the corpus
    * passes for noise-level SSE. Each round is one full corpus pass at
    * scale — the dominant build cost at 100 TB. */
  val BuildIters = 10

  /** Train centroids and assign every corpus vector to its list —
    * DETERMINISTIC Lloyd KMeans, oracle-able end to end (q139/q140
    * compare it against [[buildWitness]], a sequential implementation
    * sharing the contract but no mechanism). The PINNED contract:
    *
    *   - INIT: deterministic K-MEANS++ (derandomized D² sampling): the
    *     first centroid is the vector nearest the GLOBAL per-dim mean
    *     (itself an id-ordered fold, ties to the smaller id — a
    *     central, data-determined pick); each next centroid is the
    *     vector MINIMIZING [[graft.functions.KppInit.key]] — an
    *     exponential-race key −ln(u(id, round))/dmin whose argmin
    *     realizes the exact k-means++ D² distribution under a
    *     splitmix64 hash (ties to the smaller id). Each selection is
    *     one TakeOrdered top-1 scan — nlist bounded passes, no
    *     sampling state, no global sort — exactly reproducible by the
    *     sequential witness. (The earlier greedy farthest-point init
    *     was equally deterministic but outlier-seeking: it measurably
    *     regressed small-nprobe recall on clustered data; D² sampling
    *     is the published k-means++ quality contract.)
    *   - ITERATE [[BuildIters]] Lloyd rounds: assignment = strict-less
    *     argmin of sequential squared-L2 ([[graft.functions
    *     .NearestCentroidExpr]] — a shuffle-free narrow pass, centroid
    *     table broadcast as expression state); update = per-(list, dim)
    *     mean via the id-ordered fold ([[Embeddings.meanPool]] — the
    *     determinism convention: doubles summed in vec_id order, so the
    *     distributed and sequential paths produce bitwise-identical
    *     centroids). An empty list keeps its previous centroid.
    *   - Final assignment under the final centroids.
    *
    * Per round: one narrow assignment pass + one meanPool shuffle
    * (keyed (list, dim) — nlist·dim groups, never corpus-shaped
    * reduce state). Driver state is the nlist × dim centroid table. */
  /** Restart stream stride: restart r draws its k-means++ picks from
    * hash rounds r·65536 + round, so restarts are independent streams
    * under the one pinned [[graft.functions.KppInit.Seed]] and
    * restart 0 IS the q139/q140-oracled single build, bit for bit. */
  val RestartStream = 65536

  def build(corpus: DataFrame, nlist: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      iters: Int = BuildIters, restarts: Int = 1)
      (implicit spark: SparkSession): IvfIndex = Materialize.scope { m =>
    import spark.implicits._
    val base = m.keep(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
    val dim = base.select(size(col("v"))).head().getInt(0)
    // guards up front, one aggregation pass: (a) the witness's require
    // twin — past this point the farthest-point loop always appends, so
    // a short corpus would otherwise exit with silently-duplicated
    // centroids; (b) invalid vectors (null element / dimension mismatch)
    // fail NAMED here for EVERY iters value — the Lloyd loop's own −1
    // check never runs at iters = 0, which used to let an invalid row
    // silently persist list_id = −1 into the index
    val stats = base.agg(
      count(lit(1)),
      count(when(col("v").isNull || size(col("v")) =!= dim ||
        exists(col("v"), x => x.isNull), 1))).head()
    require(stats.getLong(0) >= nlist,
      s"corpus has fewer than nlist=$nlist vectors")
    require(stats.getLong(1) == 0L,
      s"KMeans corpus contains ${stats.getLong(1)} invalid vector(s) " +
        s"(null element or dimension mismatch vs dim=$dim) — clean the " +
        "corpus before building")
    val mean: Array[Double] = {
      val m = new Array[Double](dim)
      Embeddings.meanPool(base.withColumn("g", lit(0)), col("g"),
        idCol = "id", vecCol = "v")
        .collect().foreach(r => m(r.getLong(1).toInt) = r.getDouble(2))
      m
    }
    // minSqDist scores invalid vectors −1.0; push them LAST for this
    // ascending pick so a null-element row can never seed the build
    val dMean = graft.functions.VectorExpressions.minSqDist(col("v"), Seq(mean))
    val first = base
      .orderBy(when(dMean < 0, lit(Double.MaxValue)).otherwise(dMean).asc,
        col("id").asc).limit(1)
      .select(col("v").cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    require(first.nonEmpty, "empty corpus")
    def trainOnce(streamOffset: Int): Array[Array[Double]] = {
      var cents: Array[Array[Double]] = first
      while (cents.length < nlist) {
        val next = base
          .select(col("v"),
            graft.functions.KppInit.keyCol(col("id"),
              streamOffset + cents.length,
              graft.functions.VectorExpressions.minSqDist(col("v"), cents.toSeq))
              .as("kpp_key"), col("id"))
          .orderBy(col("kpp_key").asc, col("id").asc).limit(1)
          .select(col("v").cast("array<double>"))
          .collect().map(_.getSeq[Double](0).toArray)
        cents = cents ++ next
      }
      for (_ <- 1 to iters) {
        val assigned = base.withColumn("list_id",
          graft.functions.VectorExpressions.nearestCentroid(col("v"),
            cents.toSeq))
        val next = cents.map(_.clone())
        Embeddings.meanPool(assigned, col("list_id"), idCol = "id",
          vecCol = "v")
          .collect().foreach { r =>
            val g = r.getInt(0)
            // the −1 bucket means an invalid vector (null element or
            // dimension mismatch) reached training — fail NAMED here
            // rather than with a bare index crash or a silent
            // unreachable list in the persisted index
            require(g >= 0, "KMeans corpus contains an invalid vector " +
              "(null element or dimension mismatch) — it assigned to " +
              "list −1; clean the corpus before building")
            next(g)(r.getLong(1).toInt) = r.getDouble(2)
          }
        cents = next
      }
      cents
    }
    // Optional min-SSE restarts (Lloyd converges to WHICHEVER local
    // optimum its seeds imply — on clusterless data equally-converged
    // optima differ in small-nprobe recall; see IvfSpec's floor note).
    // The pick is deterministic without any witness machinery: SSE is
    // an EXACT DECIMAL(38,6) sum (order-independent integer
    // arithmetic, unlike a double sum), strict < keeps the first
    // restart on ties, and restart 0 is the unshifted oracled build.
    val cents =
      if (restarts <= 1) trainOnce(0)
      else {
        var best: Array[Array[Double]] = null
        var bestSse: java.math.BigDecimal = null
        for (r <- 0 until restarts) {
          val c = trainOnce(r * RestartStream)
          val sse = base.agg(sum(
            graft.functions.VectorExpressions.minSqDist(col("v"), c.toSeq)
              .cast("decimal(38,6)"))).head().getDecimal(0)
          if (best == null || sse.compareTo(bestSse) < 0) {
            best = c; bestSse = sse
          }
        }
        best
      }
    val assignments = base.withColumn("list_id",
      graft.functions.VectorExpressions.nearestCentroid(col("v"), cents.toSeq))
      .select(col("id"), col("v"), col("list_id"))
    val centroids = cents.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
    // the training cache is released as the scope exits: the returned
    // assignments frame pays one recompute scan when the caller
    // materializes it — the price of not leaking a cached corpus copy
    // per build for the session
    IvfIndex(assignments, centroids)
  }

  /** Sequential witness of [[build]] — plain arrays and loops, id-sorted
    * accumulation, no Spark — the q139/q140 oracle derivation. Input
    * vectors are (id, doubles); returns (centroids, assignments). */
  def buildWitness(vectors: Seq[(Long, Array[Double])], nlist: Int,
      iters: Int = BuildIters)
      : (Array[Array[Double]], Seq[(Long, Int)]) = {
    require(vectors.size >= nlist, s"fewer than nlist=$nlist vectors")
    val byId = vectors.sortBy(_._1)
    // global mean by id-ordered per-dim fold (first member SETS — the
    // meanPool seeding), then the nearest vector seeds the build
    val dim = byId.head._2.length
    val mean = new Array[Double](dim)
    byId.zipWithIndex.foreach { case ((_, v), k) =>
      var i = 0
      if (k == 0) while (i < dim) { mean(i) = v(i); i += 1 }
      else while (i < dim) { mean(i) += v(i); i += 1 }
    }
    locally { var i = 0; while (i < dim) { mean(i) /= byId.size; i += 1 } }
    def sq(v: Array[Double], c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < c.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
      acc
    }
    var cents: Array[Array[Double]] = Array(
      byId.minBy { case (id, v) => (sq(v, mean), id) }._2.clone())
    while (cents.length < nlist) {
      // k-means++ pick: argmin of the shared exponential-race key
      // (KppInit is the CONTRACT, like BpeEncodeExpr.checksum — the
      // scan mechanism here is a driver loop, not a TakeOrdered)
      val round = cents.length
      var bestId = Long.MaxValue
      var bestK = Double.PositiveInfinity
      var bestV: Array[Double] = null
      byId.foreach { case (id, v) =>
        var dm = Double.PositiveInfinity
        var j = 0
        while (j < cents.length) {
          val c = cents(j)
          var acc = 0.0
          var i = 0
          while (i < c.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
          if (acc < dm) dm = acc
          j += 1
        }
        val k = graft.functions.KppInit.key(id, round, dm)
        if (k < bestK || (k == bestK && id < bestId)) {
          bestK = k; bestId = id; bestV = v
        }
      }
      // all-duplicate corner (every key +∞): the tie branch fires on
      // the first id, matching the TakeOrdered (key asc, id asc) pick
      cents = cents :+ bestV.clone()
    }
    def nearest(v: Array[Double]): Int = {
      var best = -1
      var bestD = Double.PositiveInfinity
      var j = 0
      while (j < cents.length) {
        val c = cents(j)
        var acc = 0.0
        var i = 0
        while (i < c.length) { val d = v(i) - c(i); acc += d * d; i += 1 }
        if (acc < bestD) { bestD = acc; best = j }
        j += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val next = cents.map(_.clone())
      val sums = Array.fill(cents.length)(
        new Array[Double](cents(0).length))
      val ns = new Array[Long](cents.length)
      byId.foreach { case (_, v) =>
        val g = nearest(v)
        var i = 0
        // first member SETS (not 0.0 + x, which flips a -0.0) — the
        // same fold seeding as meanPool, so sums are bitwise identical
        if (ns(g) == 0) while (i < v.length) { sums(g)(i) = v(i); i += 1 }
        else while (i < v.length) { sums(g)(i) += v(i); i += 1 }
        ns(g) += 1
      }
      var j = 0
      while (j < cents.length) {
        if (ns(j) > 0) {
          var i = 0
          while (i < next(j).length) { next(j)(i) = sums(j)(i) / ns(j); i += 1 }
        }
        j += 1
      }
      cents = next
    }
    (cents, byId.map { case (id, v) => (id, nearest(v)) })
  }

  /** Persist the index: assignments PARTITIONED BY list_id (so a probe
    * reading `nprobe` lists touches `nprobe` directories — partition
    * pruning does the work the inverted file does in a single-node ANN
    * library), centroids as one tiny parquet. Build once, probe many —
    * the 100 TB shape where re-assigning the corpus per query batch
    * would dwarf the query itself. */
  def write(index: IvfIndex, path: String): Unit = {
    index.assignments.write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/assignments")
    index.centroids.write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Reload a persisted index for probing (no model needed). */
  def read(spark: SparkSession, path: String): IvfIndex =
    IvfIndex(
      spark.read.parquet(s"$path/assignments")
        .select(col("id"), col("v"), col("list_id").cast("int").as("list_id")),
      spark.read.parquet(s"$path/centroids"))

  /** Squared L2 distance — the one-pass native kernel (same sequential
    * fold and double promotion as the declarative
    * `aggregate(zip_with((x-y)²))` predecessor, parity-spec'd, so
    * nearest-centroid ties cannot move). This sits in the index's
    * hottest loop: assign/probe evaluate it per (vector, centroid). */
  private def sqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    graft.functions.VectorExpressions.sqDist(a, b)

  /** Assign vectors to their nearest existing list — the ingestion half
    * of incremental index maintenance: new corpus batches join the index
    * without retraining. One broadcast of the (tiny) centroid table and
    * one corpus pass; ties break on list_id for determinism. */
  def assign(vectors: DataFrame, centroids: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("cdist").asc, col("list_id").asc)
    vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(broadcast(centroids))
      .withColumn("cdist", sqDist(col("v"), col("centroid")))
      .withColumn("_r", row_number().over(w)).filter(col("_r") === 1)
      .select(col("id"), col("v"), col("list_id"))
  }

  /** Absorb a new vector batch and run ONE Lloyd step: assign the batch
    * to the nearest current centroids, then recompute every centroid as
    * the mean of its (old ∪ new) members — the mini-batch KMeans
    * maintenance loop that keeps lists balanced as the corpus grows,
    * without the full `build` retrain. Probing invariants are preserved
    * by construction (nprobe == nlist still scans everything, so it
    * stays exactly brute force no matter how centroids drift).
    *
    * Shape: centroid recompute is per-(list, dim) mean — explode to
    * (list_id, pos, x), one combinable agg, then regroup to arrays of
    * `dim` elements (bounded by embedding width, never by list size). */
  def refresh(index: IvfIndex, newVectors: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): IvfIndex = {
    val all = index.assignments
      .unionByName(assign(newVectors, index.centroids, idCol, vecCol))
    // the same id-ordered fold as build's update step, so a refreshed
    // index is as deterministic as a freshly-built one (an avg() here
    // would float with partial-aggregation order)
    val centroids = Embeddings.meanPool(all, col("list_id"),
      idCol = "id", vecCol = "v")
      .groupBy(col("g"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean")).as("centroid"))
      .select(col("g").as("list_id"), col("centroid"))
    IvfIndex(all, centroids)
  }

  /** The int8 form of an index: assignment vectors are replaced by
    * their quantization codes as array<tinyint> (1 B per dimension on
    * the persisted, list-partitioned layout — the 4× cut applied to
    * the structure that IS the 100 TB corpus copy). Probing stays
    * ASYMMETRIC, the FAISS-SQ shape: list selection and scoring both
    * keep the query at full precision — cosine(q, codes) equals
    * cosine(q, dequantized corpus vector) because the per-vector scale
    * cancels — so only the corpus side pays quantization noise.
    * [[topK]] works unchanged on the result (the cosine kernel
    * dispatches on the element type). */
  def quantized(index: IvfIndex): IvfIndex =
    index.copy(assignments = index.assignments.select(
      col("id"),
      transform(graft.functions.VectorExpressions.quantizeInt8(col("v"))
        .getField("codes"), _.cast("byte")).as("v"),
      col("list_id")))

  /** Recall-vs-nprobe curve: recall@k of the probed index against the
    * exact brute-force baseline over the SAME corpus, one row per
    * nprobe — the measurement that prices the accuracy/cost dial before
    * a 100 TB rollout (each +1 nprobe reads one more list partition per
    * query). Exact integer permille, deterministic at a fixed build
    * build. A diagnostic run over a bounded query batch: the per-point
    * counts are driver actions by design (like [[graft.core.ScaleOps
    * .keySkew]], this is something you run once per index build, not
    * per query). KMeans is not SQL-expressible, so this surface is
    * spec-pinned (IvfSpec) rather than DuckDB-oracled. */
  def recallCurve(queries: DataFrame, index: IvfIndex, k: Int,
      nprobes: Seq[Int], idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(nprobes.nonEmpty, "need at least one nprobe point")
    val spark = queries.sparkSession
    import spark.implicits._
    val corpus = index.assignments
      .select(col("id").as(idCol), col("v").as(vecCol))
    val rows = Materialize.scope { m =>
      val truth = m.keep(
        Similarity.bruteForceTopK(queries, corpus, k, idCol, vecCol)
          .select(col("query_id"), col("neighbor_id")))
      val nTrue = truth.count()
      nprobes.sorted.map { np =>
        val hits = topK(queries, index, k, np, idCol, vecCol)
          .select(col("query_id"), col("neighbor_id"))
          .join(truth, Seq("query_id", "neighbor_id")).count()
        (np, hits, nTrue, if (nTrue > 0) hits * 1000L / nTrue else 1000L)
      }
    }
    rows.toDF("nprobe", "n_hits", "n_true", "recall_permille")
  }

  /** The production semantic-dedup entry: the SemDeDup keep policy
    * ([[Similarity.semanticDedup]]) over a PERSISTED index — centroids
    * and list-partitioned assignments read from disk, which satisfies
    * semanticDedup's materialized-frame contract naturally (its four
    * plan references become pruned parquet re-scans, never a recompute
    * of the KMeans assignment). The oracled q89 pins the identical
    * keep-policy math on SQL-replicable LSH clusters; this path swaps
    * in the learned lists. */
  def semanticDedupPersisted(spark: SparkSession, path: String,
      threshold: Double, maxListSize: Option[Int] = None)
      : (DataFrame, DataFrame) =
    Similarity.semanticDedup(read(spark, path).assignments, threshold,
      maxListSize)

  /** ANN top-k through the index: probe the nprobe nearest lists.
    *
    * Against a persisted index ([[read]]), the probe equi-join on
    * `list_id` hits the partitioned layout: the probe side is a broadcast
    * (queries × nprobe rows), so Spark's dynamic partition pruning skips
    * every unprobed list directory at scan time. */
  def topK(queries: DataFrame, index: IvfIndex, k: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    // rank centroids per query; keep the nprobe nearest lists
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("list_id").asc)
    val probes = q.crossJoin(broadcast(index.centroids))
      .withColumn("cdist", sqDist(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("qv"), col("list_id"))
    // probe join: only vectors in the selected lists are scored
    val scored = probes.join(index.assignments, Seq("list_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("cosine", Similarity.cosine(col("qv"), col("v")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("id").as("neighbor_id"), col("cosine"), col("rank"))
  }
}
