package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

// Parity witnesses: the declarative (builtin-only) formulations the
// native kernels and one-pass operators are spec'd bit-equal against.
// No production path calls them, so they live in test scope, each in
// the package of the operator it witnesses.

/** Witnesses for [[Similarity]]. */
object SimilarityWitness {
  import Similarity.{dot, norm, signMatrix}

  /** Pure-HOF cosine (three interpreted array folds) — parity witness. */
  def cosineDeclarative(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d > 0, dot(a, b) / d).otherwise(0.0)
  }

  /** Per-plane HOF formulation — parity witness for [[lshBucket]]. */
  def lshBucketDeclarative(vec: Column, numPlanes: Int, dims: Int): Column = {
    val m = signMatrix(numPlanes, dims) // computed once, not per plane
    val bits = (0 until numPlanes).map { p =>
      val signs = typedlit(m(p).toSeq)
      val proj = aggregate(
        zip_with(vec, signs, (x, s) => x.cast("double") * s),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1 << p)).otherwise(lit(0))
    }
    bits.reduce(_ + _)
  }
}

/** Witnesses for [[Dedup]]. */
object DedupWitness {
  import graft.functions.TextFunctions.tokens

  /** Pure-builtin Jaccard (array_intersect + array_distinct(concat)). */
  def jaccardDeclarative(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_distinct(concat(a, b))).cast("double")
    when(union > 0, inter / union).otherwise(0.0)
  }

  /** Pure-builtin 64-bit SimHash (64 interpreted filter passes over the
    * per-token hash array) — parity witness for the native kernel. */
  def simhash64Declarative(textCol: Column): Column = {
    val hashes = transform(array_distinct(tokens(textCol)), t => xxhash64(t))
    val nToks = size(hashes)
    val bits = (0 until 64).map { i =>
      val ones = size(filter(hashes, h => pmod(shiftrightunsigned(h, i), lit(2)) === 1))
      val votes = ones * 2 - nToks
      when(votes > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce(_ + _)
  }
}

/** Witness for [[CorpusOps.repetitionSignals]]. */
object CorpusOpsWitness {
  import graft.functions.TextFunctions

  /** Explode-based formulation — parity witness for [[repetitionSignals]]
    * (linear with map-side combine, but two corpus scans + a (doc, gram)
    * shuffle the kernel avoids). */
  def repetitionSignalsDeclarative(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ts = TextFunctions.tokens(col(textCol))
    val grams = TextFunctions.wordShingles(col(textCol), 2)
    val base = docs.select(col(idCol).as("doc_id"),
      size(ts).as("n_tokens"),
      size(array_distinct(ts)).as("n_distinct"),
      size(grams).as("n_grams"))
    val top = docs.select(col(idCol).as("doc_id"),
      explode(grams).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("top_n"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        when(col("n_tokens") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_tokens").cast("double"))
          .otherwise(0.0).as("rep_ratio"),
        when(col("n_grams") > 0,
          col("top_n").cast("double") / col("n_grams").cast("double"))
          .otherwise(0.0).as("top2gram_frac"))
  }
}

/** Witnesses for [[Embeddings]]. */
object EmbeddingsWitness {
  import Embeddings.l2Norm

  /** Pure-HOF formulation — parity witness for [[normalize]]. */
  def normalizeDeclarative(vec: Column): Column = {
    val n = l2Norm(vec)
    when(n > 0, transform(vec, x => x.cast("double") / n))
      .otherwise(transform(vec, _ => lit(0.0)))
  }

  /** Pure-HOF formulation — parity witness for [[quantizeInt8]]. The
    * explicit floor(x/scale + 0.5) half-up formula (never an engine
    * round()) and greatest-skips-null max fold define the contract.
    * A NULL input vector yields a NULL struct (matching the kernel's
    * null-safe eval), not struct(NULL, 0.0). */
  def quantizeInt8Declarative(vec: Column): Column = {
    val maxabs = aggregate(transform(vec, x => abs(x.cast("double"))),
      lit(0.0), (acc, v) => greatest(acc, v))
    val scale = when(maxabs > 0, maxabs / lit(127.0)).otherwise(lit(0.0))
    val codes = transform(vec, x =>
      when(x.isNull, lit(null).cast("int"))
        .when(scale > 0, floor(x.cast("double") / scale + lit(0.5)).cast("int"))
        .otherwise(lit(0)))
    when(vec.isNotNull, struct(codes.as("codes"), scale.as("scale")))
  }

  /** The declarative formulation of [[meanPool]]: same ordered-fold
    * semantics via `array_sort(collect_list(struct(id, v)))` per cell.
    * Materializes each group in one aggregation buffer — fine at test
    * scale, a heap risk for huge groups — so it exists only as the
    * oracle-pinned parity witness for the streaming implementation. */
  def meanPoolDeclarative(df: DataFrame, groupCol: Column, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val exploded = df.select(groupCol.as("g"), col(idCol).as("_id"),
      posexplode(col(vecCol)).as(Seq("pos", "v")))
    exploded.groupBy(col("g"), col("pos"))
      .agg(
        aggregate(
          transform(
            array_sort(collect_list(struct(col("_id"), col("v").cast("double").as("v")))),
            s => s.getField("v")),
          lit(0.0), (acc, v) => acc + v).as("sum"),
        count(lit(1)).as("n"))
      .select(col("g"), col("pos").cast("long").as("pos"),
        (col("sum") / col("n")).as("mean"), col("n"))
  }
}

/** Witness for the IVF index's squared-distance kernel. */
object IvfAnnWitness {
  /** The declarative predecessor, kept as [[sqDist]]'s parity witness. */
  private[graft] def sqDistDeclarative(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double")
      d * d
    }), lit(0.0), (acc, v) => acc + v)
}
