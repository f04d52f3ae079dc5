package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Product quantization (Jégou et al. 2011): split each vector into
  * `m` contiguous subvectors and learn an independent `k`-codeword
  * KMeans codebook per subspace; a vector is then stored as `m` bytes
  * of codeword ids. At dim 64 doubles that is 512 B → 8 B per vector
  * (64×) — the compression layout that makes a 100 TB embedding corpus
  * probe-able from a fraction of the storage, beyond
  * [[IvfAnn.quantized]]'s 4× int8 cut. Probing is ASYMMETRIC (ADC):
  * the query stays full precision and scores a candidate with `m`
  * table lookups against per-query subdistance tables.
  *
  * DETERMINISTIC end to end, oracle-able like the IVF build
  * (q139/q140): the pinned contract is
  *
  *   - INIT: derandomized uniform sample per subspace — codeword j of
  *     subspace s is the subvector of the corpus vector ranked j by
  *     ([[graft.functions.KppInit.sampleKey]](id, s), id) ascending.
  *     k-means++ picks would cost k sequential barriers PER SUBSPACE
  *     (a nonstarter at production k = 256); FAISS trains PQ codebooks
  *     from random init, and the hash sample derandomizes exactly
  *     that. ONE window job initializes ALL m codebooks.
  *   - LLOYD [[TrainIters]] rounds over ALL subspaces JOINTLY: the
  *     (id, sub, subvector) explosion assigns each subvector to its
  *     strict-less nearest codeword (ties to the smaller code), then
  *     recomputes every (sub, code, dim) mean through the
  *     [[Embeddings.meanPool]] id-ordered fold — ONE assignment pass +
  *     ONE mean job per round for all m codebooks, so the job count is
  *     a function of iters alone, never of m or k (PqSpec pins the
  *     law). An empty cell keeps its previous codeword.
  *
  * The sequential witness ([[trainWitness]]) shares the contract and
  * the [[graft.functions.KppInit]] hash, and no mechanism. */
object Pq {

  final case class PqModel(m: Int, k: Int, dim: Int,
      codebooks: Array[Array[Array[Double]]]) // [sub][code][dsub]

  /** Lloyd rounds — fixed so (m, k, iters) fully determines the build
    * (the [[IvfAnn.BuildIters]] convention and rationale). */
  val TrainIters = 10

  /** Train all m codebooks jointly. Driver state is the model
    * (m × k × dim/m doubles); per round one narrow assignment pass and
    * one meanPool shuffle of corpus×dim exploded rows. */
  def train(corpus: DataFrame, m: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      iters: Int = TrainIters)(implicit spark: SparkSession): PqModel =
      Materialize.scope { mat =>
    require(k >= 2 && k <= 256,
      s"k=$k outside [2, 256] — codes are stored as one unsigned byte " +
        "per subspace (read back with & 0xFF)")
    val base = mat.keep(corpus.select(col(idCol).as("id"), col(vecCol).as("v")))
    val dim = base.select(size(col("v"))).head().getInt(0)
    require(dim % m == 0, s"dim=$dim not divisible by m=$m subspaces")
    val dsub = dim / m
    // the IvfAnn.build up-front guard: short corpora and invalid
    // vectors fail NAMED before any codebook exists
    val stats = base.agg(
      count(lit(1)),
      count(when(col("v").isNull || size(col("v")) =!= dim ||
        exists(col("v"), x => x.isNull), 1))).head()
    require(stats.getLong(0) >= k,
      s"corpus has fewer than k=$k vectors")
    require(stats.getLong(1) == 0L,
      s"PQ corpus contains ${stats.getLong(1)} invalid vector(s) " +
        s"(null element or dimension mismatch vs dim=$dim) — clean the " +
        "corpus before training")
    val exploded = mat.keep(base.select(col("id"),
      explode(array((0 until m).map(s => struct(lit(s).as("sub"),
        slice(col("v"), s * dsub + 1, dsub).as("sv"))): _*)).as("e"))
      .select(col("id"), col("e.sub").as("sub"), col("e.sv").as("sv")))
    // INIT: one window job ranks every subspace's sample stream
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sub"))
      .orderBy(graft.functions.KppInit.sampleKeyCol(col("id"), col("sub")).asc,
        col("id").asc)
    val cbs: Array[Array[Array[Double]]] =
      Array.fill(m, k)(null: Array[Double])
    exploded.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
      .select(col("sub"), col("rk"), col("sv").cast("array<double>"))
      .collect()
      .foreach { r =>
        cbs(r.getInt(0))(r.getInt(1) - 1) = r.getSeq[Double](2).toArray
      }
    require(cbs.forall(_.forall(_ ne null)), "init sample incomplete")
    for (_ <- 1 to iters) {
      // validate the code COLUMN itself: a composite-key check after
      // the fact would alias sub*k + (−1) onto valid group (sub−1, k−1)
      // for sub ≥ 1 — raise_error fails the job loudly at the row that
      // produced it instead of silently corrupting a codeword
      val assigned = exploded.withColumn("code",
        nearestChain(col("sub"), col("sv"), cbs))
        .withColumn("code", when(col("code") < 0, raise_error(lit(
          "PQ assignment produced code -1 (invalid subvector) — " +
            "unreachable after the up-front guard"))).otherwise(col("code")))
      val next = cbs.map(_.map(_.clone()))
      Embeddings.meanPool(assigned,
        (col("sub").cast("long") * k + col("code")).as("g"),
        idCol = "id", vecCol = "sv")
        .collect().foreach { r =>
          val g = r.getLong(0)
          next((g / k).toInt)((g % k).toInt)(r.getLong(1).toInt) =
            r.getDouble(2)
        }
      var s = 0
      while (s < m) {
        var c = 0
        while (c < k) { cbs(s)(c) = next(s)(c); c += 1 }
        s += 1
      }
    }
    PqModel(m, k, dim, cbs)
  }

  /** The per-round assignment column: a when-chain dispatching each
    * subspace to its codebook's [[graft.functions.VectorExpressions
    * .nearestCentroid]] — m codegen'd branches, one narrow pass. */
  private def nearestChain(sub: Column, sv: Column,
      cbs: Array[Array[Array[Double]]]): Column = {
    val first = when(sub === 0,
      graft.functions.VectorExpressions.nearestCentroid(sv, cbs(0).toSeq))
    (1 until cbs.length).foldLeft(first) { (acc, s) =>
      acc.when(sub === s,
        graft.functions.VectorExpressions.nearestCentroid(sv, cbs(s).toSeq))
    }.otherwise(lit(-1))
  }

  /** Encode the corpus: (id, codes array<byte> of length m) — one
    * narrow pass through [[graft.functions.PqEncodeExpr]]. */
  def encode(corpus: DataFrame, model: PqModel,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol).as("id"),
      graft.functions.PqEncodeExpr.of(col(vecCol),
        model.codebooks.map(_.map(_.toSeq).toSeq).toSeq).as("codes"))

  /** ADC top-k: per-query subdistance tables (m × k squared-L2 values,
    * computed once on the driver from the BOUNDED probe batch — the
    * q102 diagnostic convention), then one narrow scoring pass over
    * the codes with m table lookups per candidate, and a per-query
    * top-k window. Ties break (dist asc, neighbor id asc); the query
    * itself is excluded. */
  /** Per-query ADC subdistance tables from a BOUNDED probe batch (the
    * q102 diagnostic convention): table(q)(s)(c) = squared L2 between
    * query q's subvector s and codeword c, the dsub-term sequential
    * fold — the association the kernel, the witness, and the oracle
    * all share. */
  def adcTables(queries: DataFrame, model: PqModel,
      idCol: String = "vec_id", vecCol: String = "embedding")
      : Map[Long, Seq[Seq[Double]]] = {
    val dsub = model.dim / model.m
    queries
      .select(col(idCol).as("qid"), col(vecCol).cast("array<double>").as("qv"))
      .collect().map { r =>
        val qid = r.getLong(0)
        val qv = r.getSeq[Double](1).toArray
        qid -> (0 until model.m).map { s =>
          (0 until model.k).map { c =>
            val cw = model.codebooks(s)(c)
            var acc = 0.0
            var i = 0
            while (i < dsub) {
              val d = qv(s * dsub + i) - cw(i); acc += d * d; i += 1
            }
            acc
          }.toSeq
        }.toSeq
      }.toMap
  }

  def adcTopK(queries: DataFrame, codes: DataFrame, model: PqModel,
      kTop: Int, idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val tables = adcTables(queries, model, idCol, vecCol)
    val qids = tables.keys.toSeq.sorted.toDF("query_id")
    // NULL ADC scores (invalid codes, unknown query id) must never
    // displace real neighbors: Spark's bare asc is NULLS FIRST
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc_nulls_last, col("id").asc)
    codes.crossJoin(broadcast(qids))
      .filter(col("query_id") =!= col("id"))
      .withColumn("adc_dist",
        graft.functions.PqAdcExpr.of(col("query_id"), col("codes"), tables))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTop)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("adc_dist"), col("rank"))
  }

  /** IVF-PQ probe — the FAISS IVFPQ layout composed from the engine's
    * two proven pieces: the query ranks the IVF centroids and keeps
    * its `nprobe` nearest lists (the [[IvfAnn.topK]] probe shape, so a
    * persisted list-partitioned index gives partition pruning), then
    * scores ONLY those lists' candidates by ADC table lookups — at
    * 100 TB the probe reads nprobe/nlist of the corpus at 8 B/vector
    * instead of all of it at full width. `indexed` carries
    * (id, list_id, codes); ties break (adc_dist asc, id asc); the
    * query itself is excluded. */
  def ivfpqTopK(queries: DataFrame, centroids: DataFrame,
      indexed: DataFrame, model: PqModel, kTop: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val tables = adcTables(queries, model, idCol, vecCol)
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("list_id").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist",
        graft.functions.VectorExpressions.sqDist(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("list_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc_nulls_last, col("id").asc)
    probes.join(indexed, Seq("list_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("adc_dist",
        graft.functions.PqAdcExpr.of(col("query_id"), col("codes"), tables))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTop)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("adc_dist"), col("rank"))
  }

  /** Composite (query, list) table-key base for the residual probe:
    * key = query_id · 2^20 + list_id, so list ids must stay below
    * 2^20 (a million-list index — far above any nlist in use; the
    * probe validates). */
  val ListKeyMul: Long = 1L << 20

  /** Residual vectors r = v − c_assigned — the quantities residual
    * IVF-PQ codes actually store. `assignments` is (id, v, list_id)
    * (the persisted IVF layout), `centroids` (list_id, centroid);
    * both sides cast to double BEFORE subtracting so the residual is
    * bit-identical to the sequential witness's double arithmetic.
    * One broadcast join + a row-local zip. */
  def residuals(assignments: DataFrame, centroids: DataFrame): DataFrame =
    assignments
      .join(broadcast(centroids), Seq("list_id"))
      .select(col("id"),
        zip_with(col("v").cast("array<double>"),
          col("centroid").cast("array<double>"),
          (a, b) => a - b).as("rv"))

  /** RESIDUAL IVF-PQ — the actual IVFADC of Jégou et al. 2011 (§ IV):
    * codes quantize the residual r = v − c_list rather than v itself,
    * which centers every list's codebook input near the origin and
    * cuts quantization error for the same 8 B/vector (the reason FAISS
    * IndexIVFPQ encodes residuals by default). The price is that ADC
    * tables become per-(query, probed list): the query's residual
    * q − c_list differs per list, so each probed list gets its own
    * m×k table — nprobe× more driver table state than [[ivfpqTopK]],
    * still bounded by the probe batch (q102 convention). The scoring
    * pass reuses [[graft.functions.PqAdcExpr]] unchanged through a
    * composite (query · 2^20 + list) table key.
    *
    * `model` must be trained on [[residuals]] and `indexed` must carry
    * codes encoded FROM residuals — same (id, list_id, codes) layout
    * as the raw probe. Ties break (adc_dist asc, id asc); the query
    * itself is excluded; NULL scores sort last. */
  def ivfpqResidualTopK(queries: DataFrame, centroids: DataFrame,
      indexed: DataFrame, model: PqModel, kTop: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cdist").asc, col("list_id").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("cdist",
        graft.functions.VectorExpressions.sqDist(col("qv"), col("centroid")))
      .withColumn("crank", row_number().over(probeW))
      .filter(col("crank") <= nprobe)
      .select(col("query_id"), col("list_id"))
    // bounded collects — probe batch × nprobe pairs, nlist centroids
    val qvs: Map[Long, Array[Double]] = q.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val cents: Map[Long, Array[Double]] = centroids
      .select(col("list_id").cast("long"),
        col("centroid").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    require(cents.keys.forall(l => l >= 0 && l < ListKeyMul),
      s"list ids must lie in [0, $ListKeyMul) for the composite table key")
    val pairs: Seq[(Long, Long)] = probes
      .select(col("query_id"), col("list_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // one driver action reads probes; the returned plan recomputes the
    // (probe-batch × nprobe) probe derivation once — trivially cheap
    val dsub = model.dim / model.m
    val tables: Map[Long, Seq[Seq[Double]]] = pairs.map { case (qid, lid) =>
      val qv = qvs(qid)
      val c = cents(lid)
      (qid * ListKeyMul + lid) -> (0 until model.m).map { s =>
        (0 until model.k).map { cd =>
          val cw = model.codebooks(s)(cd)
          var acc = 0.0
          var i = 0
          while (i < dsub) {
            val d = (qv(s * dsub + i) - c(s * dsub + i)) - cw(i)
            acc += d * d
            i += 1
          }
          acc
        }.toSeq
      }.toSeq
    }.toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adc_dist").asc_nulls_last, col("id").asc)
    probes.join(indexed, Seq("list_id"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("_tkey",
        col("query_id") * lit(ListKeyMul) + col("list_id").cast("long"))
      .withColumn("adc_dist",
        graft.functions.PqAdcExpr.of(col("_tkey"), col("codes"), tables))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTop)
      .select(col("query_id"), col("id").as("neighbor_id"),
        col("adc_dist"), col("rank"))
  }

  /** Exact re-ranking of an ANN shortlist (the FAISS IVFADC+R
    * refinement, Jégou et al. 2011 § V): the compressed-domain probe
    * produces a shortlist of `R = kTop × rFactor` candidates per
    * query, and ONLY those ids' full-width vectors are fetched and
    * scored exactly — at 100 TB the exact pass touches |q|·R vectors
    * instead of the corpus, so the raw store is read through an
    * id-keyed join (bucketable on id) at shortlist size. `shortlist`
    * is any (query_id, neighbor_id, adc_dist) frame ([[adcTopK]] /
    * [[ivfpqTopK]] / [[ivfpqResidualTopK]] output); `corpus` supplies
    * the raw vectors. Ties break (exact_dist asc, id asc); NULLs
    * (a shortlist id missing from the corpus) sort last. Keeps
    * `adc_dist` alongside so the compressed/exact gap is observable. */
  def refineExact(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, kTop: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("nv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("exact_dist").asc_nulls_last, col("neighbor_id").asc)
    shortlist.select(col("query_id"), col("neighbor_id"), col("adc_dist"))
      .join(vecs, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("exact_dist",
        graft.functions.VectorExpressions.sqDist(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kTop)
      .select(col("query_id"), col("neighbor_id"), col("exact_dist"),
        col("adc_dist"), col("rank"))
  }

  // ------------------------------------------------------------------
  // Sequential WITNESS — plain arrays and loops, id-sorted folds, the
  // same KppInit hash contract; no shared mechanism (q139 discipline).
  // ------------------------------------------------------------------

  /** Sequential twin of [[train]] + [[encode]]: returns (codebooks,
    * per-id codes). */
  def trainWitness(vectors: Seq[(Long, Array[Double])], m: Int, k: Int,
      iters: Int = TrainIters)
      : (Array[Array[Array[Double]]], Seq[(Long, Array[Byte])]) = {
    require(k >= 2 && k <= 256,
      s"k=$k outside [2, 256] — codes are one unsigned byte per subspace")
    require(vectors.size >= k, s"fewer than k=$k vectors")
    val byId = vectors.sortBy(_._1)
    val dim = byId.head._2.length
    require(dim % m == 0, s"dim=$dim not divisible by m=$m")
    val dsub = dim / m
    def sqSub(v: Array[Double], off: Int, c: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < c.length) { val d = v(off + i) - c(i); acc += d * d; i += 1 }
      acc
    }
    // INIT: per subspace, the k lowest (sampleKey, id)
    val cbs: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      byId.sortBy { case (id, _) =>
        (graft.functions.KppInit.sampleKey(id, s), id) }
        .take(k)
        .map { case (_, v) =>
          java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub) }
        .toArray
    }
    def nearest(v: Array[Double], s: Int): Int = {
      var best = -1
      var bestD = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val d = sqSub(v, s * dsub, cbs(s)(c))
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 1 to iters) {
      val sums = Array.fill(m, k)(new Array[Double](dsub))
      val ns = Array.fill(m, k)(0L)
      byId.foreach { case (_, v) =>
        var s = 0
        while (s < m) {
          val c = nearest(v, s)
          var i = 0
          // first member SETS — the meanPool fold seeding
          if (ns(s)(c) == 0) while (i < dsub) {
            sums(s)(c)(i) = v(s * dsub + i); i += 1
          } else while (i < dsub) {
            sums(s)(c)(i) += v(s * dsub + i); i += 1
          }
          ns(s)(c) += 1
          s += 1
        }
      }
      var s = 0
      while (s < m) {
        var c = 0
        while (c < k) {
          if (ns(s)(c) > 0) {
            val nc = new Array[Double](dsub)
            var i = 0
            while (i < dsub) { nc(i) = sums(s)(c)(i) / ns(s)(c); i += 1 }
            cbs(s)(c) = nc
          }
          c += 1
        }
        s += 1
      }
    }
    val codes = byId.map { case (id, v) =>
      id -> Array.tabulate(m)(s => nearest(v, s).toByte)
    }
    (cbs, codes)
  }
}
