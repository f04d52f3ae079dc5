package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Materialize

/** Deterministic principal components of an embedding corpus — the
  * decorrelation/whitening preprocessing step ANN quantizers want (PQ
  * subspaces assume axis-aligned structure; projecting onto the top
  * PCs is the OPQ-lite move), and a drift probe (compare this
  * quarter's PC against last quarter's).
  *
  * Cross-engine determinism is the hard part: covariance is a
  * cross-row float sum, which is order-dependent. The pinned contract
  * makes every accumulation EXACT INTEGER arithmetic:
  *
  *   - quantize each element once: q = floor(v·1024 + 0.5) (the q91
  *     explicit half-up formula — both engines compute identical
  *     integers);
  *   - one corpus pass accumulates the integer moment matrix
  *     S_ij = Σ q_i·q_j (row-local upper-triangle explosion, map-side
  *     combined into dim(dim+1)/2 cells) and s_i = Σ q_i, n — sums in
  *     DECIMAL(38,0) (DuckDB: HUGEINT), exact and associative;
  *   - the scatter matrix M_ij = n·S_ij − s_i·s_j (∝ covariance; power
  *     iteration is scale-invariant) is exact integer algebra, and the
  *     operator REQUIRES n²·qmax² < 2^53 so the one int→double
  *     conversion is exact on both engines — no rounding anywhere
  *     before the iteration;
  *   - ten power iterations x ← Mx / ‖Mx‖ from the all-ones start, on
  *     the driver's 64×64 copy, every fold ascending (matvec j-asc,
  *     norm i-asc) — the oracle runs the same ten levels as unrolled
  *     MATERIALIZED CTEs over list(… ORDER BY …) folds (the q163
  *     discipline), so the doubles are bit-identical at every level.
  *     The sign needs no convention: identical arithmetic from an
  *     identical start;
  *   - further components by Hotelling deflation M ← M − λ·x·xᵀ
  *     (doubles, fixed association λ·x_i·x_j), then the same ten
  *     levels again;
  *   - per-vector projections stay exact-integer until the last step:
  *     n·c_t = Σ_j (n·q_j − s_j)·x_t[j] — the centered coordinate is
  *     the integer (n·q_j − s_j) (mean-centering WITHOUT the rational
  *     mean), folded j-ascending against the component, divided by n
  *     once at the end.
  *
  * Driver state is the dim×dim matrix (4 KB at dim 64) — the corpus is
  * touched by one narrow aggregation pass to build the scatter and one
  * narrow projection pass, at any scale. */
object Pca {

  /** Quantization scale: 2^10. With |v| ≤ 8 the quantized magnitude is
    * ≤ 2^13, and the scatter guard keeps n²·qmax² < 2^53. */
  val QuantScale = 1024L

  val Iters = 10

  /** floor(v·1024 + 0.5) per element — half-up, exact both engines. */
  def quantize(vecCol: Column): Column =
    transform(vecCol, x => floor(x.cast("double") * QuantScale + 0.5))

  /** Integer-exact scatter state off one corpus pass. */
  private final case class Scatter(n: Long, s: Array[BigInt],
      m: Array[Array[Double]], dim: Int)

  /** The flat triangle position k decoded back to (i, j), i-major —
    * shared by the scatter rebuild and the cell materialization. */
  private def triPairs(dim: Int): (Array[Int], Array[Int]) = {
    val n = dim * (dim + 1) / 2
    val ri = new Array[Int](n)
    val ci = new Array[Int](n)
    var k = 0
    var i = 0
    while (i < dim) {
      var j = i
      while (j < dim) { ri(k) = i; ci(k) = j; k += 1; j += 1 }
      i += 1
    }
    (ri, ci)
  }

  /** The whole scatter state off ONE corpus aggregation
    * ([[graft.functions.PcaScatterAgg]] — round 19; see its scaladoc
    * for what the old three-job posexplode form cost). Returns the
    * raw aggregate row: (n, invalid, qmax, dim, s, tri). */
  private def momentState(q: DataFrame): org.apache.spark.sql.Row = {
    val st = q.agg(graft.functions.PcaScatterAgg.of(col("qa")).as("st"))
      .head().getStruct(0)
    require(st.getInt(3) >= 0,
      "PCA corpus is empty — no dimension to derive")
    st
  }

  private def scatterOf(q: DataFrame): Scatter = {
    val st = momentState(q)
    val n = st.getLong(0)
    require(st.getLong(1) == 0L,
      s"corpus contains ${st.getLong(1)} invalid vector(s) — clean " +
        "before PCA")
    val dim = st.getInt(3)
    val qmax = math.max(1L, st.getLong(2))
    require(BigInt(n) * n * qmax * qmax < (BigInt(1) << 53),
      s"n=$n, qmax=$qmax: n²·qmax² exceeds 2^53 — the int→double scatter " +
        "conversion would round; shrink the input or QuantScale")
    val sArr = st.getSeq[java.math.BigDecimal](4)
      .map(d => BigInt(d.toBigInteger)).toArray
    val tri = st.getSeq[java.math.BigDecimal](5)
      .map(d => BigInt(d.toBigInteger)).toArray
    val m = Array.ofDim[Double](dim, dim)
    val (ri, ci) = triPairs(dim)
    var k = 0
    while (k < tri.length) {
      val (i, j) = (ri(k), ci(k))
      val v = (BigInt(n) * tri(k) - sArr(i) * sArr(j)).toDouble // exact: < 2^53
      m(i)(j) = v
      m(j)(i) = v
      k += 1
    }
    Scatter(n, sArr, m, dim)
  }

  /** Ten ascending-fold iterations from all-ones; (x, Rayleigh λ). */
  private def powerIterate(m: Array[Array[Double]], dim: Int,
      iters: Int): (Array[Double], Double) = {
    def matvec(v: Array[Double]): Array[Double] =
      Array.tabulate(dim) { i =>
        var acc = 0.0
        var j = 0
        while (j < dim) { acc += m(i)(j) * v(j); j += 1 }
        acc
      }
    var x = Array.fill(dim)(1.0)
    for (_ <- 1 to iters) {
      val y = matvec(x)
      var nrm2 = 0.0
      var i = 0
      while (i < dim) { nrm2 += y(i) * y(i); i += 1 }
      val nrm = math.sqrt(nrm2)
      x = y.map(_ / nrm)
    }
    val y = matvec(x)
    var num = 0.0
    var den = 0.0
    var i = 0
    while (i < dim) { num += x(i) * y(i); den += x(i) * x(i); i += 1 }
    (x, num / den)
  }

  /** Top-k components + Rayleigh eigenvalues by Hotelling deflation:
    * m ← m − λ·x·xᵀ with the fixed (λ·x_i)·x_j association. */
  private def deflated(sc: Scatter, k: Int, iters: Int)
      : Seq[(Array[Double], Double)] = {
    val m = sc.m.map(_.clone())
    (1 to k).map { _ =>
      val (x, eig) = powerIterate(m, sc.dim, iters)
      var i = 0
      while (i < sc.dim) {
        var j = 0
        while (j < sc.dim) { m(i)(j) -= eig * x(i) * x(j); j += 1 }
        i += 1
      }
      (x, eig)
    }
  }

  private def quantized(corpus: DataFrame, idCol: String,
      vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), quantize(col(vecCol)).as("qa"))

  /** [[scatterOf]] with `q` kept across its actions. */
  private def keptScatterOf(q: DataFrame): Scatter =
    Materialize.scope { s => scatterOf(s.keep(q)) }

  /** One batch's moment summary as MERGEABLE cells — the streaming-
    * maintenance currency: (kind, i, j, v) rows where kind 's2' holds
    * the upper-triangle Σ q_i·q_j, 's1' the per-dimension Σ q_i
    * (j = −1), 'n' the row count and 'qmax' the max |q| (i = j = −1).
    * Every cell is an exact integer in DECIMAL(38,0); s2/s1/n merge by
    * SUM and qmax by MAX, both associative and commutative — so
    * moments of a union == merged moments of the parts, EXACTLY, and a
    * fold order can never show. ≤ dim(dim+1)/2 + dim + 2 rows per
    * batch. */
  def momentCells(batch: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = batch.select(col(idCol).as("id"), quantize(col(vecCol)).as("qa"))
    // ONE aggregation pass (round 19 — was persist + three cell jobs
    // over a posexploded triangle; see PcaScatterAgg); the cell frame
    // is assembled driver-side from the single summary row. An empty
    // batch reports dim = -1 and fails the same require as before.
    val st =
      try momentState(q)
      catch { case e: IllegalArgumentException
          if e.getMessage != null && e.getMessage.contains("empty") =>
        throw new IllegalArgumentException(
          "requirement failed: momentCells: batch is empty — no " +
            "dimension to derive (streaming sinks short-circuit empty " +
            "micro-batches before reaching here)")
      }
    require(st.getLong(1) == 0L,
      s"batch contains ${st.getLong(1)} invalid vector(s) — clean " +
        "before PCA ingest")
    val dim = st.getInt(3)
    val n = st.getLong(0)
    val qmax = st.getLong(2)
    val s1 = st.getSeq[java.math.BigDecimal](4)
    val s2 = st.getSeq[java.math.BigDecimal](5)
    val (ri, ci) = triPairs(dim)
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    var k = 0
    while (k < s2.length) {
      rows.add(org.apache.spark.sql.Row("s2", ri(k), ci(k), s2(k)))
      k += 1
    }
    var i = 0
    while (i < dim) {
      rows.add(org.apache.spark.sql.Row("s1", i, -1, s1(i)))
      i += 1
    }
    rows.add(org.apache.spark.sql.Row("n", -1, -1,
      new java.math.BigDecimal(n)))
    rows.add(org.apache.spark.sql.Row("qmax", -1, -1,
      new java.math.BigDecimal(qmax)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("i",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("j",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", DecimalType(38, 0))))
    batch.sparkSession.createDataFrame(rows, schema)
  }

  /** Rebuild the scatter from accumulated cells (any number of merged
    * batch summaries): SUM the s2/s1/n cells, MAX the qmax cells, then
    * M_ij = n·S_ij − s_i·s_j in exact BigInt algebra.
    *
    * The one int→double conversion per cell is the determinism
    * boundary. `rounded = false` (the exact regime) REQUIRES
    * n²·qmax² < 2^53 so the conversion never rounds — bit-equal to the
    * batch build and to any engine's int→double cast. `rounded = true`
    * lifts the ceiling: each cell is TRUNCATED to its top 53
    * significant bits in exact integer arithmetic ([[Pca.signif53]] —
    * abs, shift down, shift up, sign back) and only then converted —
    * the truncated value is exactly representable, so the conversion
    * never rounds on ANY engine. Round-to-nearest was measurably NOT
    * portable here: DuckDB's HUGEINT→DOUBLE cast is off by 1 ulp from
    * correctly-rounded on ~5% of real scatter cells (it converts via
    * upper·2^64 + lower, a double-rounding), so the contract pins the
    * conversion the engines CAN agree on, at the same ≤1-ulp cost.
    * PcaSpec pins rounded == exact wherever the guard passes, plus a
    * beyond-ceiling soak against a sequential witness. */
  private def scatterFromCells(cells: DataFrame,
      rounded: Boolean): Scatter = {
    val agg = cells.groupBy(col("kind"), col("i"), col("j"))
      .agg(sum(col("v")).as("sv"), max(col("v")).as("mv"))
      .collect()
    val n = agg.find(_.getString(0) == "n")
      .map(r => BigInt(r.getDecimal(3).toBigInteger))
      .getOrElse(BigInt(0))
    require(n > 0, "moment store is empty — ingest at least one batch")
    val qmax = agg.filter(_.getString(0) == "qmax")
      .map(r => BigInt(r.getDecimal(4).toBigInteger)).max.max(BigInt(1))
    require(rounded || n * n * qmax * qmax < (BigInt(1) << 53),
      s"n=$n, qmax=$qmax: n²·qmax² exceeds 2^53 — the int→double scatter " +
        "conversion would round; serve with rounded = true (deterministic " +
        "IEEE round-to-nearest on both engines) or compact less history")
    val s1 = agg.filter(_.getString(0) == "s1")
    val dim = s1.map(_.getInt(1)).max + 1
    require(s1.length == dim, s"s1 cells cover ${s1.length} of $dim dims")
    val sArr = new Array[BigInt](dim)
    s1.foreach(r => sArr(r.getInt(1)) = BigInt(r.getDecimal(3).toBigInteger))
    val m = Array.ofDim[Double](dim, dim)
    agg.filter(_.getString(0) == "s2").foreach { r =>
      val (i, j) = (r.getInt(1), r.getInt(2))
      val sij = BigInt(r.getDecimal(3).toBigInteger)
      val mij = n * sij - sArr(i) * sArr(j) // exact BigInt algebra
      // identity in the guarded regime (|mij| < 2^53 ⇒ no truncation)
      val v = if (rounded) signif53(mij) else mij.toDouble
      m(i)(j) = v
      m(j)(i) = v
    }
    Scatter(n.toLong, sArr, m, dim)
  }

  /** Truncate to the top 53 significant bits (toward zero), then
    * convert — exact on every engine because the truncated integer is
    * exactly representable as a double. The portable alternative to
    * round-to-nearest (see [[scatterFromCells]]); identity for
    * |m| < 2^53. Public: the PcaSpec witness and the oracle SQL
    * replicate exactly this arithmetic. */
  def signif53(m: BigInt): Double = {
    val a = m.abs
    val bl = a.bitLength
    if (bl <= 53) m.toDouble
    else {
      val t = (a >> (bl - 53)) << (bl - 53)
      (if (m.signum < 0) -t else t).toDouble
    }
  }

  /** [[topComponent]] served from accumulated moment cells — bit-equal
    * to the batch build over the same rows (exact mergeable moments).
    * `rounded = true` serves past the 2^53 exactness ceiling: the
    * moment algebra stays exact integers and each cell truncates to
    * its top 53 significant bits before the (then-exact) conversion
    * ([[signif53]] — engine-independent integer arithmetic; what is
    * GIVEN UP beyond the ceiling is ≤1 ulp per cell vs a never-
    * rounding engine, nothing vs any real one). */
  def topComponentFromCells(cells: DataFrame, iters: Int = Iters,
      rounded: Boolean = false): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val sc = scatterFromCells(cells, rounded)
    val (x, eig) = powerIterate(sc.m, sc.dim, iters)
    x.zipWithIndex.map { case (c, pos) => (pos.toLong, c, eig) }
      .toSeq.toDF("pos", "pc", "eigval")
  }

  /** (pos, pc, eigval): the unit top component by ten deterministic
    * power iterations, plus its Rayleigh quotient on the scatter
    * matrix (λ of M = n²·cov-scale; relative comparisons — gap ratios,
    * drift cosines — are scale-free). */
  def topComponent(corpus: DataFrame, iters: Int = Iters,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val sc = keptScatterOf(quantized(corpus, idCol, vecCol))
    val (x, eig) = powerIterate(sc.m, sc.dim, iters)
    x.zipWithIndex.map { case (c, pos) => (pos.toLong, c, eig) }
      .toSeq.toDF("pos", "pc", "eigval")
  }

  /** (id, c1, …, ck): every vector's coordinates on the top-k deflated
    * components — ONE narrow codegen'd pass (the k fold expressions
    * carry the components and column sums as literals; nothing joins).
    * c_t = (Σ_j (n·q_j − s_j)·x_t[j]) / n: the numerator terms are
    * exact integers times the component double, folded j-ascending, so
    * both engines see identical doubles. */
  def project(corpus: DataFrame, k: Int = 2, iters: Int = Iters,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val q = quantized(corpus, idCol, vecCol)
    // q is kept only for the scatter's actions; the one projection pass
    // recomputes it
    projectionPass(q, keptScatterOf(q), k, iters)
  }

  /** [[project]] served from an accumulated moment store: components
    * and centering state derive from the CELLS (one kilobyte-scale
    * aggregation — the corpus is never re-read for the model), and the
    * per-vector pass is the same one-narrow-pass fold over whatever
    * frame the caller wants projected. Bit-equal to [[project]] when
    * `corpus` is exactly the ingested rows (exact mergeable moments);
    * `rounded = true` serves past the 2^53 ceiling under the
    * [[signif53]] contract. The centering literals s_j, n need no
    * truncation in either regime: s_j ≤ n·qmax stays far below 2^53
    * wherever scatter cells (≤ n²·qmax²) are even representable as
    * anything, and both engines convert sub-2^53 integers exactly. */
  def projectFromCells(cells: DataFrame, corpus: DataFrame, k: Int = 2,
      iters: Int = Iters, rounded: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 1, s"k=$k must be >= 1")
    val sc = scatterFromCells(cells, rounded)
    val q = corpus.select(col(idCol).as("id"),
      quantize(col(vecCol)).as("qa"))
    projectionPass(q, sc, k, iters)
  }

  /** The shared one-narrow-pass projection fold over quantized rows. */
  private def projectionPass(q: DataFrame, sc: Scatter, k: Int,
      iters: Int): DataFrame = {
    val comps = deflated(sc, k, iters)
    val sLit = array(sc.s.map(b => lit(b.toDouble)): _*) // exact: s_j ≪ 2^53
    val nLit = lit(sc.n.toDouble)
    val coordCols = comps.zipWithIndex.map { case ((x, _), t) =>
      val xLit = array(x.map(lit): _*)
      (aggregate(sequence(lit(0), lit(sc.dim - 1)), lit(0.0),
        (acc, j) => acc +
          (nLit * element_at(col("qa"), (j + 1).cast("int")) -
            element_at(sLit, (j + 1).cast("int"))) *
          element_at(xLit, (j + 1).cast("int"))) / nLit).as(s"c${t + 1}")
    }
    q.select(col("id") +: coordCols: _*)
  }
}
