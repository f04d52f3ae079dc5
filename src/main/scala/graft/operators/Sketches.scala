package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import graft.core.Materialize

/** Approximate analytics for when exact is unaffordable at 100 TB:
  * count-min frequency sketches, HyperLogLog distinct estimates, and
  * Bloom membership filters — all mergeable one-pass aggregates (the
  * property that makes them scale: partial sketches combine map-side
  * and across executors, so the shuffle carries kilobytes, not keys).
  *
  * These intentionally trade exactness for size, so they are NOT in the
  * DuckDB-oracle surface; SketchSpec pins the bounds instead:
  * count-min never under-counts and over-counts ≤ eps·N at the given
  * confidence, HLL lands within its rsd, Bloom has no false negatives.
  * Exact companions exist for each (q59/q67 term counts, q45 distinct,
  * the q74 fingerprint anti-join) — the sketch is the scale path, the
  * exact form the correctness witness. */
object Sketches {

  /** Count-min sketch over one column, returned as Spark's serialized
    * sketch binary (mergeable; `CountMinSketch.readFrom` to query).
    * eps bounds relative over-count; one pass, map-side combinable. */
  def countMinSketch(df: DataFrame, colName: String,
      eps: Double = 0.001, confidence: Double = 0.99,
      seed: Int = 42): CountMinSketch = {
    val bytes = df.select(count_min_sketch(col(colName), lit(eps),
      lit(confidence), lit(seed)).as("sk")).head().getAs[Array[Byte]](0)
    CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bytes))
  }

  /** Token-frequency sketch over a text corpus: one explode + one
    * sketch aggregation. The scale alternative to the exact q59/q67
    * term-count shuffles when only approximate frequencies are needed
    * (stopword discovery, head-of-distribution monitoring). */
  def tokenFrequencySketch(docs: DataFrame, textCol: String = "text",
      eps: Double = 0.001, confidence: Double = 0.99): CountMinSketch =
    countMinSketch(docs.select(explode(
      graft.functions.TextFunctions.tokens(col(textCol))).as("t")), "t",
      eps, confidence)

  /** Per-group HyperLogLog distinct estimate next to the exact count's
    * query shape; `rsd` is the standard-deviation knob (Spark's HLL++). */
  def distinctEstimate(df: DataFrame, groupCol: String, valueCol: String,
      rsd: Double = 0.05): DataFrame =
    df.groupBy(col(groupCol))
      .agg(approx_count_distinct(col(valueCol), rsd).as("approx_distinct"))

  /** Bloom filter over a column (e.g. the q74 fingerprint store): no
    * false negatives, so `mightContain == false` PROVES absence — the
    * pre-filter that lets an incremental dedup skip the exact anti-join
    * for the (vast) definitely-fresh majority and shuffle only the
    * maybe-duplicate sliver. Sized by expectedItems/fpp. */
  def bloomFilter(df: DataFrame, colName: String, expectedItems: Long,
      fpp: Double = 0.01): BloomFilter =
    df.stat.bloomFilter(colName, expectedItems, fpp)

  /** Frequency lookups against a count-min sketch for a set of probe
    * terms, as (term, estimate) rows — driver-side sketch, executor-free
    * probe (the sketch is the whole state). */
  def estimateAll(sketch: CountMinSketch, terms: Seq[String]): Seq[(String, Long)] =
    terms.map(t => t -> sketch.estimateCount(t))

  /** Exact term counts for a probe set — the witness the spec compares
    * sketch estimates against. */
  def exactCounts(docs: DataFrame, terms: Seq[String],
      textCol: String = "text"): Map[String, Long] = {
    val t = docs.select(explode(
      graft.functions.TextFunctions.tokens(col(textCol))).as("t"))
      .filter(col("t").isin(terms: _*))
      .groupBy(col("t")).agg(count(lit(1)).as("n"))
    t.collect().map(r => r.getString(0) -> r.getLong(1)).toMap.withDefaultValue(0L)
  }

  /** The HLL error contract as an oracle-checkable row set: per group,
    * the EXACT distinct count next to a boolean verdict that the HLL++
    * estimate landed within `sigmas`·rsd of it (floor of ±1 for tiny
    * groups, where HLL++ is exact by its sparse mode anyway). The
    * estimate itself is deliberately NOT a result column — it is
    * engine-specific — so a value-for-value oracle (which computes the
    * exact count and asserts the verdict TRUE) verifies the contract
    * without replicating the sketch. Production uses [[distinctEstimate]]
    * (no exact companion); this is its correctness witness. */
  def distinctEstimateChecked(df: DataFrame, groupCol: String,
      valueCol: String, rsd: Double = 0.05, sigmas: Double = 3.0): DataFrame =
    df.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("exact_distinct"),
        approx_count_distinct(col(valueCol), rsd).as("_approx"))
      .select(col(groupCol), col("exact_distinct"),
        (abs(col("_approx") - col("exact_distinct")).cast("double") <=
          greatest(lit(1.0),
            lit(sigmas * rsd) * col("exact_distinct").cast("double")))
          .as("hll_ok"))

  /** Mergeable-HLL contract: the property an INCREMENTAL distinct-count
    * pipeline stands on — uniting per-partition sketches answers
    * "distinct ids to date" within the sketch's error bound, so
    * yesterday's persisted sketch plus today's delta sketch replaces a
    * rescan of history. Per group: the exact distinct count,
    * `merge_ok` (the estimate from uniting per-(group, sub) sketches
    * lands within `sigmas`·rsd of exact) and `hll_ok` (same bound for
    * the one-shot sketch), rsd ≈ 1.04/√2^lgK, both floored at ±1.
    *
    * SCALE FINDING (sf1.0, round 6): the earlier form of this contract
    * asserted whole == merged EXACTLY. That held at sf0.01/sf0.1 only
    * because every sketch was still in sparse (coupon) mode, where a
    * same-lgK union really is lossless; once groups grow into dense HLL
    * mode, a streamed sketch answers with the HIP estimator while a
    * union must fall back to the composite estimator (merging
    * invalidates HIP), so the two estimates legitimately diverge by a
    * sub-rsd amount. The durable production property is the ERROR BAND
    * of the merged path, not bit-equality with the one-shot path — and
    * that is what `merge_ok` pins. Estimates stay OUT of the result
    * columns — a DuckDB oracle computes the exact count and asserts
    * both verdicts TRUE, proving the contracts without replicating the
    * sketch. */
  def hllMergeContract(df: DataFrame, groupCol: String, subCol: String,
      valueCol: String, lgK: Int = 12, sigmas: Double = 3.0): DataFrame = {
    val rsd = 1.04 / math.sqrt((1L << lgK).toDouble)
    val exact = df.groupBy(col(groupCol))
      .agg(countDistinct(col(valueCol)).as("exact_distinct"))
    val whole = df.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col(valueCol).cast("string"), lit(lgK))).as("_whole"))
    val merged = df.groupBy(col(groupCol), col(subCol))
      .agg(hll_sketch_agg(col(valueCol).cast("string"), lit(lgK)).as("_sk"))
      .groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("_sk"), lit(false))).as("_merged"))
    def within(est: Column) =
      abs(est - col("exact_distinct")).cast("double") <=
        greatest(lit(1.0),
          lit(sigmas * rsd) * col("exact_distinct").cast("double"))
    exact.join(whole, groupCol).join(merged, groupCol)
      .select(col(groupCol), col("exact_distinct"),
        within(col("_merged")).as("merge_ok"),
        within(col("_whole")).as("hll_ok"))
  }

  /** The count-min error contract over the exact top-`k` tokens:
    * (token, exact count, verdict) where the verdict asserts the sketch
    * estimate never under-counts and over-counts by at most eps·N
    * (N = total token occurrences) — count-min's two-sided guarantee.
    * Like [[distinctEstimateChecked]], the estimate stays out of the
    * result so a DuckDB oracle (exact top-k + literal TRUE) hashes the
    * contract. The probe terms are the exact top-k — a driver-side
    * collect bounded by `k`, the same plan-time-constant pattern as the
    * LSH sign matrix. Two corpus passes (counts, sketch); at 100 TB the
    * sketch pass is the one you keep and this witness runs on a sample. */
  def cmsCheckedTopTokens(docs: DataFrame, k: Int, textCol: String = "text",
      eps: Double = 0.001, confidence: Double = 0.99): DataFrame = {
    val spark = docs.sparkSession
    val toks = docs.select(explode(
      graft.functions.TextFunctions.tokens(col(textCol))).as("t"))
    // one counts aggregation serves BOTH the top-k collect and N (the
    // eps·N over-count bound): kept so the corpus is tokenized once for
    // the exact side; the sketch pass is the second (and only other)
    // corpus pass
    val (top, totalN) = Materialize.scope { s =>
      val counts = s.keep(toks.groupBy(col("t")).agg(count(lit(1)).as("n")))
      (counts.orderBy(col("n").desc, col("t").asc).limit(k)
        .collect().map(r => (r.getString(0), r.getLong(1))),
        counts.agg(sum(col("n"))).collect()(0).getLong(0).max(1L))
    }
    val sketch = countMinSketch(toks, "t", eps, confidence)
    val checked = top.map { case (tok, exact) =>
      val est = sketch.estimateCount(tok)
      (tok, exact, est >= exact && est <= exact + (eps * totalN).ceil.toLong)
    }
    import spark.implicits._
    // explicit output order: the contract row set is tiny (k rows) but
    // the oracle comparison must not lean on createDataset preserving
    // local collection order
    spark.createDataset(checked.toSeq)
      .toDF("tok", "exact_n", "cms_ok")
      .orderBy(col("exact_n").desc, col("tok").asc)
  }

  /** Ranked per-group heavy hitters via the mergeable space-saving
    * summary ([[graft.functions.SpaceSavingAgg]]): one hash aggregation
    * whose state is O(capacity) per group no matter how many rows flow
    * through it — the scale path for "top tokens per language" when the
    * exact (group, item) count table is unaffordable. With
    * `capacity ≥ distinct(items)` per group the summary is provably
    * exact (no eviction ⇒ every err = 0), which is the regime the q131
    * oracle checks value-for-value; the approx regime's guarantees are
    * pinned by SpaceSavingSpec. Emits (group, item, est, err, rank),
    * rank 1..k in (est desc, err asc, item asc) order. */
  def heavyHittersTopK(df: DataFrame, groupCol: String, itemCol: String,
      capacity: Int, k: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.SpaceSavingAgg.topK(col(itemCol), capacity)
        .as("summary"))
      .select(col(groupCol), posexplode(col("summary")).as(Seq("pos", "s")))
      .filter(col("pos") < k)
      .select(col(groupCol), col("s.item").as("item"),
        col("s.est").as("est"), col("s.err").as("err"),
        (col("pos") + 1).cast("long").as("rank"))

  // ----------------------- count-min join-cardinality estimation

  /** Count-min sketch of one relation's join-key frequencies: depth
    * hash rows × width counters, materialized SPARSELY as
    * (hrow, bucket, cnt) — a groupBy-sum, so partial sketches combine
    * map-side and the shuffle carries at most depth·width cells no
    * matter the input size. Hash row i buckets md5("cmsj<i>:" || key)
    * (md5 is the repo's one shared cross-engine hash), so the sketch is
    * DETERMINISTIC and a SQL engine rebuilds it bit-for-bit — unlike
    * [[cmsCheckedTopTokens]]'s library sketch, whose bounds can only be
    * asserted as verdicts. */
  def cmsKeySketch(df: DataFrame, keyCol: String, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, s"bad sketch shape: $depth x $width")
    val buckets = array((0 until depth).map { i =>
      pmod(conv(substring(md5(concat(lit(s"cmsj$i:"),
        col(keyCol).cast("string")).cast("binary")), 1, 15), 16, 10)
        .cast("long"), lit(width.toLong))
    }: _*)
    df.select(posexplode(buckets).as(Seq("hrow", "bucket")))
      .groupBy(col("hrow"), col("bucket")).agg(count(lit(1)).as("cnt"))
  }

  /** Equi-join cardinality estimation from two count-min sketches (the
    * AMS/CM inner-product estimator, Cormode & Muthukrishnan 2005 §4.2):
    * per hash row i, est_i = Σ_b cntL(i,b)·cntR(i,b) — NEVER below the
    * true join size (matching keys always share buckets and every term
    * is non-negative; the per-row overcount is the hash-collision mass,
    * expectation |L|·|R|/width). The caller takes min(est_i).
    *
    * This is the 100 TB join-PLANNING primitive: the sketches are
    * depth·width cells built in one pass each, so two relations' join
    * size is estimated from kilobytes without shuffling either — the
    * decision "broadcast / shuffle-hash / refuse" for a join you have
    * not run yet. The estimator is exact integer arithmetic over the
    * deterministic sketches (DECIMAL(38,0) products — a heavy-key join
    * at scale passes 2^63), so the q212 oracle hash-compares the
    * ESTIMATES themselves, not just verdicts.
    *
    * Returns one row per hash row: (hrow, est_n, exact_n, ge_exact)
    * with the exact join size attached as the contract witness (the
    * q115 stance: at scale the sketch pass is the one you keep, the
    * exact pass is the witness you run on a sample). */
  def cmsJoinCardinality(left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String,
      depth: Int = 4, width: Int = 1024): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val est = cmsJoinEstimate(
      cmsKeySketch(left, leftKey, depth, width),
      cmsKeySketch(right, rightKey, depth, width), depth)
    val exact = left.select(col(leftKey).as("__k"))
      .groupBy(col("__k")).agg(count(lit(1)).as("nl"))
      .join(right.select(col(rightKey).as("__k"))
        .groupBy(col("__k")).agg(count(lit(1)).as("nr")), Seq("__k"))
      .agg(sum(col("nl").cast(dec) * col("nr")).as("_ex"))
      .select(expr("CAST(coalesce(_ex, 0) AS BIGINT)").as("exact_n"))
    est.crossJoin(broadcast(exact))
      .withColumn("ge_exact", col("est_n") >= col("exact_n"))
  }

  /** The SKETCH-ONLY batch join estimator — the production entry point
    * [[cmsJoinCardinality]]'s scaladoc promises: join size from two
    * depth×width cell frames (kilobytes), with NEITHER relation's rows
    * shuffled or re-scanned. Feed it [[cmsKeySketch]] outputs — built
    * once per relation at ingest (batch) or folded from the streaming
    * store ([[graft.streaming.SketchIngest.serve]], whose
    * estimateAgainst is this same fold stream-side). The caller takes
    * min(est_n) over the depth rows; every row is ≥ the true join size
    * (matching keys always share buckets, every term non-negative).
    *
    * The exact join size appears nowhere here — that is the point. The
    * q212 harness (cmsJoinCardinality) stays the opt-in error witness,
    * exactly the q175→q178 theta-sketch split.
    *
    * All `depth` rows ALWAYS return: hash rows whose sketches share no
    * buckets (a provably-empty join) coalesce to est_n = 0 against a
    * depth-sized spine instead of silently vanishing — otherwise
    * min-over-returned-rows would overstate a true-zero join by
    * dropping its tightest row.
    *
    * Plan shape (PlanAuditSpec-pinned): one broadcast-hash join of two
    * ≤ depth·width-cell aggregates — no sort-merge join, no exchange
    * carrying relation rows. */
  def cmsJoinEstimate(sketchLeft: DataFrame, sketchRight: DataFrame,
      depth: Int): DataFrame = {
    require(depth >= 1, s"depth must be at least 1, got $depth")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val spark = sketchLeft.sparkSession
    // posexplode positions are IntegerType; the spine matches so the
    // estimator's hrow type is identical to the sketch frames'
    val spine = spark.range(depth.toLong)
      .select(col("id").cast("int").as("hrow"))
    val rowEst = sketchLeft.withColumnRenamed("cnt", "cnt_l")
      // both sides are sketch-sized; broadcast keeps the join
      // exchange-free no matter what stats AQE sees
      .join(broadcast(sketchRight.withColumnRenamed("cnt", "cnt_r")),
        Seq("hrow", "bucket"))
      .groupBy(col("hrow"))
      .agg(sum(col("cnt_l").cast(dec) * col("cnt_r")).as("_est"))
    spine.join(broadcast(rowEst), Seq("hrow"), "left")
      .select(col("hrow"),
        expr("CAST(coalesce(_est, 0) AS BIGINT)").as("est_n"))
  }
}
