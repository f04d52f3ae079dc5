package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Materialize

/** Multi-dimensional data layout: Morton (Z-order) interleaving and a
  * z-clustered parquet writer. At 100 TB the scan you never run is the
  * cheapest one — sorting a table by ONE column gives parquet row-group
  * min/max pruning on that column only, while interleaving the bits of
  * two (or more) filter columns before the sort keeps BOTH dimensions'
  * per-file ranges narrow, so selective filters on either column (or
  * both) skip most files. Same idea as Delta/Iceberg Z-ORDER clustering,
  * built from native codegen'd bit expressions — no UDF, no kernel
  * needed: shift/and/or compose into one whole-stage-codegen expression.
  *
  * Codes are built from the LOW `bits` of each dimension (callers bucket
  * or range-rank real values into [0, 2^bits) first); two dims at
  * ≤ 31 bits each fit a non-negative long.
  */
object Layout {

  /** Interleave the low `bits` of `a` (even positions) and `b` (odd
    * positions) into one z-code. Inputs must be non-negative. The k = 2
    * case of [[mortonCodeN]] (position 2i / 2i+1 ≡ i·2 + d). */
  def mortonCode(a: Column, b: Column, bits: Int = 21,
      validate: Boolean = false): Column = {
    require(bits > 0 && bits <= 31, s"bits must be in [1, 31], got $bits")
    mortonCodeN(Seq(a, b), bits, validate)
  }

  /** Recover dimension `dim` (0 = even bits, 1 = odd bits) from a
    * z-code — the round-trip witness for [[mortonCode]]. */
  def mortonDecode(z: Column, dim: Int, bits: Int = 21): Column = {
    require(dim == 0 || dim == 1, s"dim must be 0 or 1, got $dim")
    mortonDecodeN(z, dim, 2, bits)
  }

  /** k-dimensional Morton interleave: bit i of dimension d lands at
    * code position i*k + d. `bits * dims` must stay ≤ 62 (non-negative
    * long). Values ≥ 2^bits contribute only their low bits (documented
    * bucketing contract); NEGATIVE values would silently interleave
    * two's-complement low bits into codes that neither round-trip nor
    * cluster — pass `validate = true` to fail the task instead (one
    * codegen'd comparison per dim per row; the z-writer turns it on).
    * The 2-dim [[mortonCode]] is the k = 2 special case. */
  def mortonCodeN(cols: Seq[Column], bits: Int,
      validate: Boolean = false): Column = {
    require(cols.size >= 2, "need at least 2 dimensions")
    require(bits > 0 && bits * cols.size <= 62,
      s"bits*dims must be in (0, 62], got ${bits * cols.size}")
    val k = cols.size
    val checked = cols.map { c =>
      if (!validate) c.cast("long")
      else when(c.cast("long") < 0, raise_error(concat(
        lit("mortonCodeN: negative dimension value "), c.cast("string"))))
        .otherwise(c.cast("long"))
    }
    checked.zipWithIndex.flatMap { case (c, d) =>
      (0 until bits).map { i =>
        shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + d)
      }
    }.reduce(_ bitwiseOR _)
  }

  /** Recover dimension `dim` of a [[mortonCodeN]] code. */
  def mortonDecodeN(z: Column, dim: Int, dims: Int, bits: Int): Column = {
    require(dim >= 0 && dim < dims)
    (0 until bits).map { i =>
      shiftleft(shiftright(z.cast("long"), i * dims + dim).bitwiseAND(lit(1L)), i)
    }.reduce(_ bitwiseOR _)
  }

  /** Z-cluster `df` on two dimension columns and write parquet: range
    * partition on the z-code (equal-size output tasks even when the
    * dims are skewed — range boundaries come from a sample of the
    * actual code distribution), sort within partitions, drop the
    * transient code column at the writer. Files then hold z-contiguous
    * blocks, which is exactly what keeps per-file min/max tight on BOTH
    * dims. Returns the written path for chaining. */
  def zorderWrite(df: DataFrame, dimA: Column, dimB: Column, path: String,
      numFiles: Int, bits: Int = 21): String =
    zorderWriteN(df, Seq(dimA, dimB), path, numFiles, bits)

  /** k-dimensional [[zorderWrite]] via [[mortonCodeN]] (bits·dims ≤ 62).
    * Dimension values are validated non-negative — a silent layout
    * corruption at write time costs every future scan. */
  def zorderWriteN(df: DataFrame, dims: Seq[Column], path: String,
      numFiles: Int, bits: Int): String = {
    require(numFiles > 0)
    val coded = df.withColumn("__z", mortonCodeN(dims, bits, validate = true))
    coded.repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
    path
  }

  /** Data-skipping accounting: QUANTIFIES what [[zorderWrite]]'s layout
    * buys — for a 2-D box predicate, how many equal-width layout
    * buckets (file-group stand-ins) a zone-map reader must touch, and
    * how many rows ride along, under (a) linear clustering on dim A
    * alone vs (b) Morton clustering on (A, B). Equal-WIDTH buckets in
    * key space, deliberately: equal-count bucketing needs a global sort
    * (an Exchange SinglePartition — the fleet-banned one-reducer
    * funnel), while equal-width is one narrow pass plus a broadcast
    * 1-row max, and is what range-clustered files approximate anyway.
    *
    * Output, one row per layout: (layout, buckets_used, buckets_hit,
    * rows_total, rows_in_hit, rows_match) — rows_match is the exact
    * predicate count (identical across layouts; the witness that both
    * layouts answer the same query), rows_in_hit the scan cost a
    * min/max-pruning reader pays. The interesting inequality on any
    * box-selective workload: zorder's rows_in_hit ≪ linear's whenever
    * the box is selective on BOTH dims (linear prunes dim A perfectly
    * and dim B not at all). Deterministic integer arithmetic
    * throughout — the q215 oracle recomputes every count. */
  def skippingReport(df: DataFrame, dimA: Column, dimB: Column,
      bits: Int, buckets: Int,
      aLo: Long, aHi: Long, bLo: Long, bHi: Long): DataFrame = {
    require(buckets >= 1, s"buckets must be at least 1, got $buckets")
    require(aLo <= aHi && bLo <= bHi, "empty box")
    // bucket = key * buckets DIV (kmax + 1) in long arithmetic: the
    // z key reaches 2^(2·bits), so the product must stay under 2^63 or
    // bucket ids silently wrap negative and the equal-width layout
    // breaks — refuse the shape instead (the mortonCodeN discipline).
    // ceil(log2): an exact power of two multiplies by exactly its
    // log2, so 64 - nlz(buckets) would refuse provably-safe shapes
    val bucketBits =
      if (buckets == 1) 0
      else 64 - java.lang.Long.numberOfLeadingZeros((buckets - 1).toLong)
    require(2 * bits + bucketBits <= 62,
      s"2*bits + ceil(log2(buckets)) must stay <= 62 (got 2*$bits + $bucketBits)" +
        " - the bucket product would overflow a long")
    val spark = df.sparkSession
    import spark.implicits._
    // validate the dims IN RANGE, not just non-negative: the z code
    // uses only the low `bits` of each dim while the linear layout
    // buckets the RAW value, so a dim ≥ 2^bits would make the two
    // layouts describe different data (and a raw value past
    // 2^(63-bucketBits) would overflow the linear bucket product even
    // though the z guard passed) — fail the task instead
    def inRange(c: Column, name: String): Column =
      when(c < 0 || c >= (1L << bits), raise_error(concat(
        lit(s"skippingReport: dimension $name value "), c.cast("string"),
        lit(s" outside [0, 2^$bits) - bucket or range-rank it first"))))
        .otherwise(c)
    val base = df.select(dimA.cast("long").as("a"), dimB.cast("long").as("b"))
      .select(inRange(col("a"), "a").as("a"), inRange(col("b"), "b").as("b"))
      .withColumn("z", mortonCode(col("a"), col("b"), bits))
      .withColumn("hit",
        (col("a").between(aLo, aHi) && col("b").between(bLo, bHi))
          .cast("long"))
    Materialize.scope { m =>
      m.keep(base)
      // ONE pass for both layouts' key maxima (broadcast single row)
      val kmax = base.agg(max(col("a")).as("kmax_a"), max(col("z")).as("kmax_z"))
      def layoutRow(name: String, keyCol: String, kmaxCol: String) = {
        val per = base.crossJoin(broadcast(kmax))
          .withColumn("bucket", expr(s"$keyCol * $buckets DIV ($kmaxCol + 1)"))
          .groupBy(col("bucket"))
          .agg(min(col("a")).as("mina"), max(col("a")).as("maxa"),
            min(col("b")).as("minb"), max(col("b")).as("maxb"),
            count(lit(1)).as("cnt"), sum(col("hit")).as("matches"))
        val intersects =
          !(col("maxa") < aLo || col("mina") > aHi ||
            col("maxb") < bLo || col("minb") > bHi)
        val r = per.agg(
          count(lit(1)).as("buckets_used"),
          coalesce(sum(when(intersects, 1L).otherwise(0L)), lit(0L))
            .as("buckets_hit"),
          coalesce(sum(col("cnt")), lit(0L)).as("rows_total"),
          coalesce(sum(when(intersects, col("cnt")).otherwise(0L)), lit(0L))
            .as("rows_in_hit"),
          coalesce(sum(col("matches")), lit(0L)).as("rows_match"))
          .collect()(0)
        (name, r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))
      }
      // the report is exactly two rows — materialize them while the
      // projection is kept (one compute + two bucket passes instead of
      // the old four full md5-spread + Morton scans), then hand back a
      // LocalRelation so the cache can release eagerly
      Seq(layoutRow("linear_a", "a", "kmax_a"),
        layoutRow("zorder_ab", "z", "kmax_z"))
        .toDF("layout", "buckets_used", "buckets_hit", "rows_total",
          "rows_in_hit", "rows_match")
    }
  }
}
