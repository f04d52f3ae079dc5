package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Embedding-column utilities for training-data pipelines: L2
  * normalization (unit vectors for cosine-as-dot retrieval) and mean
  * pooling (one vector per group from its members' vectors — document
  * embedding from chunk embeddings, cluster centroids, user profiles).
  *
  * Numeric contract: every sum is a deterministic sequential fold —
  * normalization folds in array order; pooling folds group members in
  * key order (collect + sort by the unique key, then fold) — so results
  * are bit-identical across partitionings and engines (verified against
  * DuckDB's ordered list_sum).
  */
object Embeddings {

  /** L2 norm via the same sequential fold as Similarity.dot. */
  def l2Norm(vec: Column): Column =
    sqrt(aggregate(transform(vec, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  /** Unit-normalize to array<double>; the zero vector maps to zeros.
    * One-pass native kernel (`EmbeddingsWitness.normalizeDeclarative`
    * is the parity witness — the HOF pair walks the array three times
    * through the interpreter). */
  def normalize(vec: Column): Column =
    graft.functions.VectorExpressions.normalize(vec)

  /** Symmetric int8 quantization as struct<codes, scale> — the 4×
    * storage lever for embedding columns at corpus scale. One-pass
    * native kernel; `EmbeddingsWitness.quantizeInt8Declarative` is the
    * parity witness. */
  def quantizeInt8(vec: Column): Column =
    graft.functions.VectorExpressions.quantizeInt8(vec)

  /** The storage form of [[quantizeInt8]]: codes narrowed to
    * array<tinyint> (every code fits [-127, 127]) plus the per-vector
    * scale — 1 byte per dimension on parquet instead of 4, the cut that
    * turns a 100 TB embedding column into 25 TB. [[dequantize]] is the
    * lossy inverse. */
  def quantizeForStorage(df: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    // two-step projection so the kernel runs once per row (a single
    // select with two getFields would evaluate the struct twice)
    df.select(col(idCol), quantizeInt8(col(vecCol)).as("__qz"))
      .select(col(idCol),
        transform(col("__qz.codes"), _.cast("byte")).as("codes"),
        col("__qz.scale").as("scale"))

  /** Reconstruct approximate double vectors from stored codes. */
  def dequantize(codes: Column, scale: Column): Column =
    transform(codes, c => c.cast("double") * scale)

  /** Per-dimension max-abs across the corpus, as a driver-side literal
    * vector (dims are a plan-time constant, like the IVF centroids and
    * LSH sign matrix). One narrow aggregation pass: posexplode → max per
    * pos — order-independent, so partitioning never changes the scales.
    * A dimension that is NULL in every vector (max() → NULL) or whose
    * max is NaN gets scale 0.0 — its codes then take the degenerate
    * 0/NULL branch instead of throwing or poisoning the literal. */
  def perDimScales(df: DataFrame, vecCol: String = "embedding"): Seq[Double] =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col("pos")).agg(max(abs(col("v").cast("double"))).as("m"))
      .orderBy(col("pos")).collect()
      .map { r =>
        val m = if (r.isNullAt(1)) 0.0 else r.getDouble(1)
        if (m > 0) m / 127.0 else 0.0 // Java semantics: NaN > 0 false → 0.0
      }
      .toSeq

  /** Per-dimension (per-channel) int8 quantization: scale_d =
    * max|x_d|/127 over the corpus, so ONE outlier dimension no longer
    * flattens every other dimension's resolution — the failure mode of
    * the per-vector scheme when embeddings have a few high-variance
    * channels. Adds `codes` (array<int>); pass the same `scales` to
    * [[dequantizePerDim]]. Codes stay in [-127, 127] because |x_d| ≤
    * the dimension's max by construction. */
  def quantizePerDim(df: DataFrame, scales: Seq[Double],
      vecCol: String = "embedding"): DataFrame = {
    val sc = typedlit(scales)
    df.withColumn("codes", zip_with(col(vecCol), sc, (x, s) =>
      when(x.isNull, lit(null).cast("int"))
        .when(s > 0, floor(x.cast("double") / s + lit(0.5)).cast("int"))
        .otherwise(lit(0))))
  }

  /** Lossy inverse of [[quantizePerDim]]. */
  def dequantizePerDim(codes: Column, scales: Seq[Double]): Column =
    zip_with(codes, typedlit(scales), (c, s) => c.cast("double") * s)

  /** Mean vector per group, emitted as (group, pos, mean, n) rows —
    * the shape that feeds both downstream joins and a collect_list
    * re-assembly. The per-(group,pos) sum folds member values sorted by
    * `idCol` (unique), making the double accumulation order-independent
    * of partitioning. The shuffle is on (group, pos) — dims-way wider
    * keys than a naive per-group pass, which is exactly what spreads a
    * hot group across the cluster instead of pinning it to one task.
    *
    * Memory: one hash shuffle on (g, pos), an EXTERNAL sort within each
    * shuffle partition (spills — a million-chunk group costs disk, not
    * heap), then a streaming run-fold with O(1) state per group. No
    * per-cell array is ever materialized, unlike the
    * `EmbeddingsWitness.meanPoolDeclarative` parity witness, whose
    * `array_sort(collect_list(...))` buffers a whole group per
    * aggregation cell and is kept only to pin these semantics in specs. */
  def meanPool(df: DataFrame, groupCol: Column, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val exploded = df.select(groupCol.as("g"), col(idCol).as("_id"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("g"), col("_id"), col("pos").cast("long").as("pos"),
        col("v").cast("double").as("v"))
    val sorted = exploded.repartition(col("g"), col("pos"))
      .sortWithinPartitions("g", "pos", "_id")
    val outSchema = StructType(Seq(
      sorted.schema("g"),
      StructField("pos", LongType),
      StructField("mean", DoubleType),
      StructField("n", LongType)))
    sorted.mapPartitions { rows =>
      new Iterator[Row] {
        // a null element would otherwise surface as a bare NPE from
        // Row.getDouble deep in the fold — name the precondition
        // instead (the build()/refresh() loudness convention)
        private def elem(r: Row): Double = {
          if (r.isNullAt(3)) throw new IllegalArgumentException(
            "meanPool input contains a null vector element — clean the " +
              "corpus before aggregating")
          r.getDouble(3)
        }
        private var pending: Row = if (rows.hasNext) rows.next() else null
        def hasNext: Boolean = pending != null
        def next(): Row = {
          val g = pending.get(0)
          val pos = pending.getLong(2)
          var sum = elem(pending)
          var n = 1L
          pending = null
          var done = false
          while (!done && rows.hasNext) {
            val r = rows.next()
            if (r.get(0) == g && r.getLong(2) == pos) { sum += elem(r); n += 1 }
            else { pending = r; done = true }
          }
          Row(g, pos, sum / n, n)
        }
      }
    }(Encoders.row(outSchema))
  }
}
