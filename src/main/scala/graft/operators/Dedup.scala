package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.Materialize
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB shape of the problem:
  *
  *   - exact: one hash-groupBy shuffle on a 32-byte key (not the document
  *     body) — the canonical-id choice (min id) is a map-side-combinable
  *     aggregate.
  *   - MinHash+LSH: signature is computed per-document (no shuffle);
  *     candidates come from an equi-join on exploded band keys, so the
  *     shuffle volume is O(N·bands), never O(N²). Exact Jaccard is
  *     computed only on candidates.
  *   - SimHash: per-document fingerprint + bucket-join on the fingerprint
  *     (optionally with rotations for hamming-distance-1 lookups).
  *   - n-gram Jaccard: exact verification predicate used after a
  *     candidate generator — exposed standalone for small/medium corpora.
  *
  * All-pairs variants are intentionally absent: anything O(N²) on the full
  * corpus is the wrong plan at scale. The EXACT-threshold pair set (no LSH
  * false negatives) is still available — [[similarityJoin]] reaches it
  * through prefix filtering, never through the quadratic product.
  */
object Dedup {

  /** Exact dedup: canonical row per distinct content fingerprint.
    * Returns (fingerprint, canonical_id, n_dups). */
  def exactClusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(contentFingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_docs"))

  /** Exact dedup keep-first: drop all but the min-id row per fingerprint.
    * Implemented as a self-semi-join on (fp, id) against the cluster
    * table — both sides shuffle on fp only. */
  def dropExactDuplicates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val canon = exactClusters(docs, idCol, textCol)
      .select(col("fp"), col("canonical_id"))
    docs.withColumn("fp", contentFingerprint(col(textCol)))
      .join(canon, Seq("fp"))
      .filter(col(idCol) === col("canonical_id"))
      .drop("fp", "canonical_id")
  }

  /** Per-doc MinHash signatures + band keys.
    * Output: (id, shingles, signature, band_keys). The signature uses the
    * one-pass native expression (same md5 math as the declarative
    * TextFunctions.minhashSignature; ~an order of magnitude less
    * interpreter/allocation overhead). */
  def minhashed(docs: DataFrame, idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, rowsPerBand: Int): DataFrame =
    docs.select(
      col(idCol).as("id"),
      graft.functions.ShingleExpressions
        .wordShinglesDistinct(col(textCol), shingleSize).as("shingles"))
      .withColumn("signature",
        graft.functions.HashExpressions.minhashSignature(col("shingles"), numHashes))
      .withColumn("band_keys", lshBandKeys(col("signature"), rowsPerBand))

  /** MinHash-LSH candidate pairs (id_a < id_b), deduplicated across bands.
    * The join key is the exploded band key: only same-bucket docs meet.
    *
    * Plan shape matters enormously here: the band self-join and the pair
    * dedup run over NARROW (band_key, id) rows only — carrying the shingle
    * arrays (or worse, the signature expression tree) through the
    * explode/join/dropDuplicates path re-evaluates the whole MinHash
    * computation per candidate row and shuffles megabyte arrays
    * (measured: 509 s → 16 s at sf0.1 for the full pipeline). Shingles
    * are attached AFTER dedup by joining back to the per-doc table.
    *
    * `maxBucketSize` is the 100 TB hot-bucket guardrail: one band bucket
    * holding B docs produces B²/2 candidate pairs, so a single boilerplate
    * cluster (empty pages, license headers) can go quadratic. Buckets
    * above the cap are dropped from candidate generation (their members
    * still pair through their OTHER bands); [[hotBuckets]] reports what a
    * cap drops so the loss is accounted, not silent. The hot-bucket list
    * is tiny by construction, so the anti-join broadcasts.
    *
    * `hotBucketKeys` overrides the internally-computed hot set with a
    * caller-supplied `bk` column of band keys to exclude — the incremental
    * paths use it so the cap is evaluated over the COMBINED corpus
    * population (store ∪ batch) rather than each sub-population
    * separately: a bucket holding 60 store + 60 batch docs is hot at
    * cap 100 even though neither side alone crosses it. */
  def lshCandidatePairs(minhashedDocs: DataFrame,
      maxBucketSize: Option[Int] = None,
      hotBucketKeys: Option[DataFrame] = None): DataFrame = {
    val allBanded = minhashedDocs.select(col("id"), explode(col("band_keys")).as("bk"))
    val banded = (hotBucketKeys, maxBucketSize) match {
      case (Some(hot), _) =>
        allBanded.join(broadcast(hot.select(col("bk"))), Seq("bk"), "left_anti")
      case (None, Some(cap)) =>
        val hot = allBanded.groupBy(col("bk"))
          .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") > cap)
          .select(col("bk"))
        allBanded.join(broadcast(hot), Seq("bk"), "left_anti")
      case (None, None) => allBanded
    }
    val a = banded.select(col("bk"), col("id").as("id_a"))
    val b = banded.select(col("bk"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val sh = minhashedDocs.select(col("id"), col("shingles"))
    pairs
      .join(sh.select(col("id").as("id_a"), col("shingles").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")), Seq("id_b"))
  }

  /** Accounting for the hot-bucket guardrail: the band buckets a given
    * cap would drop, with their populations — log/persist this next to
    * the dedup output so dropped candidate mass is visible. */
  def hotBuckets(minhashedDocs: DataFrame, cap: Int): DataFrame =
    minhashedDocs.select(explode(col("band_keys")).as("bk"))
      .groupBy(col("bk")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > cap)

  /** Candidate-quality report for the LSH banding dial: recall and
    * precision of band-join CANDIDATES against exact pairwise-Jaccard
    * ground truth, over a caller-bounded evaluation sample. One row:
    * (n_true, n_candidates, n_hits, recall_permille, precision_permille),
    * exact integer permille both engines reproduce.
    *
    * This is the engine's ONE deliberate all-pairs computation — an
    * evaluation harness, not a pipeline operator: you price a
    * (numHashes, rowsPerBand) setting on a few-hundred-doc sample
    * BEFORE a 100 TB dedup run, the same way [[graft.operators.IvfAnn
    * .recallCurve]] prices nprobe. Cost is |sample|² by construction;
    * the caller supplies the (small) sample and owns that bound. */
  def lshCandidateQuality(sample: DataFrame, threshold: Double,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3)
      : DataFrame =
    lshCandidateQualityOf(
      minhashed(sample, idCol, textCol, shingleSize, numHashes, rowsPerBand),
      threshold)

  /** [[lshCandidateQuality]] over an already-minhashed sample (e.g. a
    * filtered slice of a persisted [[graft.sources.MinHashStore]]). */
  def lshCandidateQualityOf(sampleMh: DataFrame, threshold: Double)
      : DataFrame = {
    val sh = sampleMh.select(col("id"), col("shingles"))
    val truth = sh.select(col("id").as("id_a"), col("shingles").as("sh_a"))
      .join(sh.select(col("id").as("id_b"), col("shingles").as("sh_b")),
        col("id_a") < col("id_b"))
      .filter(jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val cand = sampleMh.select(col("id").as("id_a"), explode(col("band_keys")).as("bk"))
      .join(sampleMh.select(col("id").as("id_b"), explode(col("band_keys")).as("bk")),
        Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    // the three counts are driver-scale scalars (like recallCurve's):
    // compute them eagerly, over the sample kept for just these actions,
    // so re-running actions on the returned 1-row frame never re-runs
    // the all-pairs truth join
    val (nTrue, nCand, nHits) = Materialize.scope { s =>
      s.keep(sampleMh)
      (truth.count(), cand.count(),
        truth.join(cand, Seq("id_a", "id_b")).count())
    }
    val recall = if (nTrue > 0) nHits * 1000L / nTrue else 1000L
    val precision = if (nCand > 0) nHits * 1000L / nCand else 1000L
    val sess = sampleMh.sparkSession
    import sess.implicits._
    Seq((nTrue, nCand, nHits, recall, precision))
      .toDF("n_true", "n_candidates", "n_hits",
        "recall_permille", "precision_permille")
  }

  /** Exact Jaccard over distinct-shingle arrays — one-pass native kernel
    * (`DedupWitness.jaccardDeclarative` is the parity witness). */
  def jaccard(a: Column, b: Column): Column =
    graft.functions.ShingleExpressions.jaccard(a, b)

  /** EXACT-threshold Jaccard similarity join via prefix filtering (the
    * AllPairs/SSJoin family — Bayardo et al. 2007, Chaudhuri et al.
    * 2006): every pair of docs whose distinct-shingle Jaccard meets
    * `tMilli`/1000, with NO LSH false negatives and NO quadratic
    * product. Each doc emits only its PREFIX shingles — the
    * p = |s| − ceil(t·|s|) + 1 rarest under the global (df asc,
    * shingle asc) order — and a pair becomes a candidate only on a
    * shared prefix shingle. Completeness: J(a,b) ≥ t ⇒ |a∩b| ≥
    * ceil(t·|a∪b|) ≥ ceil(t·max(|a|,|b|)); if the two prefixes were
    * disjoint, every common shingle would sit in the suffixes, and
    * under a SHARED total order the doc whose prefix ends earlier has
    * a suffix of only ceil(t·|s|) − 1 elements — too small to hold
    * that intersection. The candidate join therefore runs on the
    * RAREST shingles only: the df skew that makes a naive token join
    * quadratic is filtered out by construction, and the exact verify
    * join is candidate-bounded, never corpus². Integer contract:
    * keep iff 1000·|∩| ≥ tMilli·|∪|; jacc_milli = 1000·|∩| div |∪|.
    * Output: (id_a, id_b, inter, un, jacc_milli), id_a < id_b. */
  def similarityJoin(docs: DataFrame, tMilli: Int, shingleSize: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(tMilli >= 1 && tMilli <= 1000,
      s"tMilli=$tMilli outside [1, 1000]")
    val shPlan = docs.select(col(idCol).as("id"),
      graft.functions.ShingleExpressions
        .wordShinglesDistinct(col(textCol), shingleSize).as("toks"))
    val sh = Materialize.detached(shPlan)
    val e = sh.select(col("id"), size(col("toks")).as("sz"),
      explode(col("toks")).as("t"))
    val cand = prefixCandidatePairs(e, tMilli)
    // exact verify on candidates only, against the DETACHED per-doc
    // shingle ARRAYS: two id-keyed candidate-bounded joins and a
    // row-local array_intersect. Round 19: this replaced the
    // occurrence-level form (cand ⋈ e on id_a, then ⋈ e on (id_b, t),
    // then a count per pair) — which materialized |cand| × |toks_a|
    // intermediate rows and shuffled them by (id_b, t) — with
    // |cand|-row frames end to end; the intersection count moves from
    // a shuffled aggregation into the row (same distinct-shingle
    // arithmetic, the q30 jaccard shape). Sizes ride the same arrays,
    // so the two size joins are gone too. shuffle_hash stays pinned:
    // sh is corpus-shaped and must never be broadcast (the sf10 AQE
    // OOM lesson).
    cand
      .join(sh.select(col("id").as("id_a"), col("toks").as("_ta"))
        .hint("shuffle_hash"), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("toks").as("_tb"))
        .hint("shuffle_hash"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_ta"), col("_tb"))).cast("long")
          .as("inter"),
        (size(col("_ta")).cast("long") + size(col("_tb"))).as("_szsum"))
      .withColumn("un", col("_szsum") - col("inter"))
      .filter(lit(1000L) * col("inter") >= lit(tMilli.toLong) * col("un"))
      .select(col("id_a"), col("id_b"), col("inter"), col("un"),
        expr("(1000 * inter) DIV un").as("jacc_milli"))
  }

  /** The prefix-filter candidate stage of [[similarityJoin]], shared
    * with [[similarityJoinCandidates]]: every join side is corpus-
    * shaped (shingle vocabulary, doc sizes, exploded postings all grow
    * with the corpus) — pin SHUFFLE hash joins so AQE's post-shuffle
    * size estimate never "upgrades" one to a broadcast (measured at
    * sf10: the df-side broadcast OOMs the driver; at 100 TB every one
    * of these would). */
  private def prefixCandidatePairs(e: DataFrame, tMilli: Int): DataFrame = {
    val dfT = e.groupBy(col("t")).agg(count(lit(1)).as("df"))
      .hint("shuffle_hash")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("df").asc, col("t").asc)
    val pref = e.join(dfT, Seq("t"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <=
        col("sz") - expr(s"CAST(($tMilli * sz + 999) DIV 1000 AS INT)") + 1)
      .select(col("id"), col("t"), col("sz"))
    // the AllPairs LENGTH filter rides the candidate join: J ≥ t forces
    // min(|a|,|b|)·1000 ≥ t·max(|a|,|b|) (∩ ≤ min, ∪ ≥ max), so size-
    // mismatched pairs are cut before the verify — exactness-preserving
    pref.as("a")
      .join(pref.as("b").hint("shuffle_hash"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
          lit(1000L) * col("a.sz") >= lit(tMilli.toLong) * col("b.sz") &&
          lit(1000L) * col("b.sz") >= lit(tMilli.toLong) * col("a.sz"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** [[similarityJoin]]'s candidate pair set alone — the accounting
    * surface for the two-stage composition (q205): candidate MASS is
    * what goes clique-quadratic on replicated corpora, so the
    * before/after-collapse counts are the numbers that justify running
    * components first. Same derivation, same plan pins. */
  def similarityJoinCandidates(docs: DataFrame, tMilli: Int,
      shingleSize: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(tMilli >= 1 && tMilli <= 1000,
      s"tMilli=$tMilli outside [1, 1000]")
    val e = docs.select(col(idCol).as("id"),
      graft.functions.ShingleExpressions
        .wordShinglesDistinct(col(textCol), shingleSize).as("toks"))
      .select(col("id"), size(col("toks")).as("sz"),
        explode(col("toks")).as("t"))
    prefixCandidatePairs(e, tMilli)
  }

  /** Full MinHash-LSH near-dup pipeline: candidates → exact-Jaccard
    * verification → pairs over threshold.
    *
    * The per-doc shingle/signature table is detached: it is O(corpus) —
    * the right thing to cache even at 100 TB scale, where the
    * alternative is recomputing the signature expression for every one
    * of O(candidate-pairs) rows. */
  def minhashNearDupPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", shingleSize: Int = 3, numHashes: Int = 12,
      rowsPerBand: Int = 3, threshold: Double = 0.5,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val mh = Materialize.detached(
      minhashed(docs, idCol, textCol, shingleSize, numHashes, rowsPerBand))
    nearDupPairsFromMinhashed(mh, threshold, maxBucketSize)
  }

  /** [[minhashNearDupPairs]] over an ALREADY-minhashed corpus — the form
    * every downstream consumer should use when a persisted signature
    * table exists ([[graft.sources.MinHashStore]]): at 100 TB signatures
    * are computed once at admission and stored; re-digesting the corpus
    * per consumer (pairing, clustering, quality measurement) pays the
    * shingle+hash pass k times for no reason. */
  def nearDupPairsFromMinhashed(mh: DataFrame, threshold: Double = 0.5,
      maxBucketSize: Option[Int] = None,
      hotBucketKeys: Option[DataFrame] = None): DataFrame =
    lshCandidatePairs(mh, maxBucketSize, hotBucketKeys)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** 16-bit SimHash from md5 nibbles — cross-engine reproducible (the
    * DuckDB oracle re-derives it from the same md5 hex). Each distinct
    * token votes ±1 per bit; the fingerprint takes the majority.
    * Computed by the one-pass native expression (one md5 per token
    * instead of 16). `DedupWitness.simhash16Declarative` keeps the
    * pure-builtin formulation the oracle SQL mirrors (PipelineSpec
    * asserts kernel == declarative on the planted documents). */
  def simhash16(textCol: Column): Column =
    graft.functions.HashExpressions.simhash16(array_distinct(tokens(textCol)))

  /** 64-bit SimHash via xxhash64 — the production variant (Spark-only;
    * xxhash64 has no DuckDB equivalent so the oracle uses simhash16).
    * Computed by the one-pass native kernel: one xxhash64 per token, 64
    * vote counters, one traversal. `DedupWitness.simhash64Declarative` keeps the
    * pure-builtin formulation as the parity witness (OperatorSpec asserts
    * kernel == declarative on real documents). */
  def simhash64(textCol: Column): Column =
    graft.functions.HashExpressions.simhash64(array_distinct(tokens(textCol)))

  /** Hamming-distance near-dup pairs over a fingerprint column (image
    * dHash, SimHash — any ≤63-bit perceptual hash) via BAND bucketing:
    * the `bits`-bit hash splits into `bands` contiguous bands, docs
    * sharing ANY band bucket become candidates, and the exact Hamming
    * distance verifies candidates only. COMPLETE for maxDist < bands
    * by pigeonhole: a pair within distance d < bands has at least one
    * band with zero differing bits, hence a shared bucket — the q28
    * LSH-band discipline transplanted to Hamming space, never an
    * all-pairs scan. `maxBucketSize` is the same hot-bucket guardrail
    * (a monoculture bucket — say every all-black thumbnail — would go
    * B²/2 quadratic; capped buckets drop from candidate generation and
    * their members still pair through their other bands when they
    * differ anywhere else).
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, hamming ≤ maxDist.
    * Scale shape: the band explode is bands·N narrow rows; the
    * candidate equi-join shuffles on the band key; the verify is one
    * xor+bit_count per candidate — no full-width data moves. */
  /** Hamming band preconditions shared by the batch and incremental
    * forms. `bits` may be the full 64 (the real-codec 8×8 dHash) — the
    * hash is an opaque bit pattern, and every operation here
    * (shiftrightunsigned, xor, bit_count) is sign-agnostic. */
  private def requireHammingBands(bits: Int, bands: Int, maxDist: Int): Unit = {
    require(bands >= 1 && bits >= bands && bits <= 64,
      s"bits=$bits bands=$bands out of range")
    require(maxDist >= 0 && maxDist < bands,
      s"maxDist=$maxDist must be < bands=$bands for band completeness")
    require(bits % bands == 0,
      s"bits=$bits must split evenly into bands=$bands")
    require(bits / bands < 64 || bands > 1,
      "bits=64 needs bands >= 2 (a 64-bit band mask cannot be built " +
        "by shifting, and bands=1 at 64 bits is just an exact-hash join)")
  }

  /** (bk, <idOut>, <hashOut>) band-key explosion of a hash frame: band
    * b's w = bits/bands key bits, with the band index riding the key so
    * band b of one hash never meets band c of another. */
  private def hammingBanded(hashes: DataFrame, bits: Int, bands: Int,
      idCol: String, hashCol: String, idOut: String,
      hashOut: String): DataFrame = {
    val w = bits / bands
    val mask = (1L << w) - 1 // w < 64 by requireHammingBands
    hashes.select(col(idCol).as(idOut), col(hashCol).as(hashOut))
      .select(col(idOut), col(hashOut),
        explode(array((0 until bands).map { b =>
          (shiftrightunsigned(col(hashOut), b * w).bitwiseAND(lit(mask)) +
            lit(b.toLong << w)).as(s"b$b")
        }: _*)).as("bk"))
  }

  def hammingNearDupPairs(hashes: DataFrame, bits: Int, bands: Int,
      maxDist: Int, idCol: String = "id", hashCol: String = "hash",
      maxBucketSize: Option[Int] = None): DataFrame = {
    requireHammingBands(bits, bands, maxDist)
    val allBanded =
      hammingBanded(hashes, bits, bands, idCol, hashCol, "id", "hash")
    val banded = maxBucketSize match {
      case Some(cap) =>
        val hot = allBanded.groupBy(col("bk"))
          .agg(count(lit(1)).as("n_docs")).filter(col("n_docs") > cap)
          .select(col("bk"))
        allBanded.join(broadcast(hot), Seq("bk"), "left_anti")
      case None => allBanded
    }
    // both self-join sides are corpus-shaped — pin shuffle_hash so AQE
    // never upgrades one to a broadcast (the q195 sf10 OOM lesson)
    banded.select(col("bk"), col("id").as("id_a"), col("hash").as("h_a"))
      .join(banded.select(col("bk"), col("id").as("id_b"),
        col("hash").as("h_b")).hint("shuffle_hash"), Seq("bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("id_a", "id_b")
  }

  /** Incremental Hamming near-dup: verified pairs between a NEW batch
    * of perceptual hashes and the persisted hash store
    * ([[graft.sources.DHashStore]]) — the image analog of
    * [[incrementalNearDupPairs]], for run-over-run ingestion where each
    * batch must be checked against everything already admitted without
    * re-pairing the store against itself. Same band completeness
    * (maxDist < bands, pigeonhole); hashes are 8 bytes so they ride the
    * band join directly (no join-back a heavy column would need). The
    * hot-bucket cap is evaluated over the COMBINED (store ∪ batch)
    * population — the q123 rule: 60 store + 60 batch docs in a bucket
    * is hot at cap 100 even though neither side alone is.
    *
    * Output: (new_id, store_id, hamming), hamming ≤ maxDist. Caller
    * contract: the id spaces are disjoint. */
  def incrementalHammingPairs(newHashes: DataFrame, storeHashes: DataFrame,
      bits: Int, bands: Int, maxDist: Int,
      idCol: String = "id", hashCol: String = "hash",
      maxBucketSize: Option[Int] = None,
      hotBucketKeys: Option[DataFrame] = None): DataFrame = {
    requireHammingBands(bits, bands, maxDist)
    val nb = hammingBanded(newHashes, bits, bands, idCol, hashCol,
      "new_id", "h_n")
    val sb = hammingBanded(storeHashes, bits, bands, idCol, hashCol,
      "store_id", "h_s")
    val (nbF, sbF) = (hotBucketKeys, maxBucketSize) match {
      case (Some(hot), _) =>
        (nb.join(broadcast(hot.select(col("bk"))), Seq("bk"), "left_anti"),
          sb.join(broadcast(hot.select(col("bk"))), Seq("bk"), "left_anti"))
      case (None, Some(cap)) =>
        val hot = nb.select(col("bk")).unionAll(sb.select(col("bk")))
          .groupBy(col("bk")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") > cap).select(col("bk"))
        (nb.join(broadcast(hot), Seq("bk"), "left_anti"),
          sb.join(broadcast(hot), Seq("bk"), "left_anti"))
      case (None, None) => (nb, sb)
    }
    // the store side grows without bound — pin shuffle_hash (q195 rule)
    nbF.join(sbF.hint("shuffle_hash"), Seq("bk"))
      .select(col("new_id"), col("store_id"),
        bit_count(col("h_n").bitwiseXOR(col("h_s"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxDist)
      .dropDuplicates("new_id", "store_id")
  }

  /** One image-ingestion ADMISSION fold over the persisted hash store
    * (the [[graft.sources.DHashStore]] loop, mirroring the exact-dedup
    * span-gate ingestion shape): a batch doc is admitted iff it is
    * within `maxDist` of NOTHING already stored AND nothing
    * earlier-id'd in its own batch (first-seen-wins within the batch,
    * the min-id canonical convention); admitted hashes append as the
    * batch's own delta (replays overwrite — exactly-once). Returns the
    * admitted (id, hash) rows. */
  def imageAdmissionIngest(batch: DataFrame, dir: String, batchId: String,
      bits: Int, bands: Int, maxDist: Int,
      idCol: String = "id", hashCol: String = "hash"): DataFrame =
    hammingAdmissionFold(batch, bits, bands, maxDist, idCol, hashCol,
      load = s => graft.sources.DHashStore.load(s, dir, Some(batchId)),
      append = graft.sources.DHashStore.appendDelta(_, dir, batchId))

  /** [[imageAdmissionIngest]] for AUDIO band fingerprints over
    * [[graft.sources.AudioHashStore]] — the Hamming admission fold is
    * hash-agnostic, only the per-modality store differs. */
  def audioAdmissionIngest(batch: DataFrame, dir: String, batchId: String,
      bits: Int, bands: Int, maxDist: Int,
      idCol: String = "id", hashCol: String = "hash"): DataFrame =
    hammingAdmissionFold(batch, bits, bands, maxDist, idCol, hashCol,
      load = s => graft.sources.AudioHashStore.load(s, dir, Some(batchId)),
      append = graft.sources.AudioHashStore.appendDelta(_, dir, batchId))

  /** The shared Hamming admission fold: a batch row is admitted iff it
    * is within `maxDist` of NOTHING the store serves AND of no
    * smaller-id row in its own batch (min-id canonical); admitted
    * hashes append as the batch's own delta — `load` must already
    * exclude that delta so replays re-decide against the store as it
    * stood (exactly-once). */
  private def hammingAdmissionFold(batch: DataFrame,
      bits: Int, bands: Int, maxDist: Int, idCol: String, hashCol: String,
      load: org.apache.spark.sql.SparkSession => DataFrame,
      append: DataFrame => Unit): DataFrame = {
    val b = batch.select(col(idCol).as("id"), col(hashCol).as("hash"))
    val store = load(batch.sparkSession)
    val hitStore = incrementalHammingPairs(b, store, bits, bands, maxDist)
      .select(col("new_id").as("id")).distinct()
    // within-batch: keep the min id of every near-dup cluster — a doc
    // survives iff no SMALLER-id batch doc sits within maxDist
    val within = hammingNearDupPairs(b, bits, bands, maxDist)
      .select(col("id_b").as("id")).distinct()
    val admitted = b
      .join(hitStore.hint("shuffle_hash"), Seq("id"), "left_anti")
      .join(within.hint("shuffle_hash"), Seq("id"), "left_anti")
    append(admitted)
    admitted
  }

  /** foreachBatch sink form of [[imageAdmissionIngest]] — wire as
    * `.writeStream.foreachBatch(Dedup.imageAdmissionSink(dir, 28, 4, 3))`
    * over an (id, hash) stream. Batch-id keying makes retried
    * micro-batches overwrite their own delta; empty micro-batches are
    * a no-op (nothing to admit, nothing to append). */
  def imageAdmissionSink(dir: String, bits: Int, bands: Int, maxDist: Int,
      idCol: String = "id", hashCol: String = "hash")
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) =>
      if (!batch.isEmpty) {
        imageAdmissionIngest(batch.toDF(), dir, f"b$batchId%09d",
          bits, bands, maxDist, idCol, hashCol)
        ()
      }

  /** foreachBatch sink form of [[audioAdmissionIngest]] over an
    * (id, hash) fingerprint stream. */
  def audioAdmissionSink(dir: String, bits: Int, bands: Int, maxDist: Int,
      idCol: String = "id", hashCol: String = "hash")
      : (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
    (batch, batchId) =>
      if (!batch.isEmpty) {
        audioAdmissionIngest(batch.toDF(), dir, f"b$batchId%09d",
          bits, bands, maxDist, idCol, hashCol)
        ()
      }

  // ----------------------- frame-hash-SET near-dup (video level)

  /** Video-level near-dup pairs over frame-hash POSTINGS (id, fhash) —
    * the multimodal composition one level above [[hammingNearDupPairs]]:
    * an entity is a SET of perceptual hashes (a video's sampled-frame
    * dHashes), candidates are entities sharing ANY exact hash (complete
    * for any Jaccard > 0 — J ≥ t > 0 implies a shared element), and
    * verification is exact integer set Jaccard at `tMilli`. Postings
    * joins are corpus-shaped on both sides — shuffle_hash pinned (the
    * q195 rule); per-pair verify is O(1) because signatures are bounded
    * by the frame-sample cap. `maxPostingSize` is the hot-frame
    * guardrail (a degenerate frame hash shared by B videos yields B²/2
    * candidates): hashes above the cap drop from candidate generation,
    * [[hotBuckets]]-style — entities still pair through their other
    * frames, and [[hotFrameHashes]] reports what the cap drops so the
    * loss is accounted, not silent. `hotFrameKeys` (the
    * [[lshCandidatePairs]] hotBucketKeys pattern) supplies a
    * caller-precomputed `fhash` column of hot hashes to exclude
    * instead — pass [[hotFrameHashes]]' output so the operator and
    * its accounting provably share ONE hot set (no duplicate
    * aggregation, no cap drift between the two calls). Output:
    * (id_a, id_b, inter, un, jacc_milli), id_a < id_b. */
  def frameSetNearDupPairs(postings: DataFrame, tMilli: Int,
      maxPostingSize: Option[Int] = None,
      hotFrameKeys: Option[DataFrame] = None): DataFrame = {
    require(tMilli > 0, s"tMilli must be positive, got $tMilli")
    // conflicting cap inputs must fail loudly: a caller-supplied hot set
    // computed under a DIFFERENT cap than maxPostingSize would silently
    // win (the exact cap drift the hotFrameKeys contract warns against),
    // so supplying both is rejected rather than one being ignored
    require(hotFrameKeys.isEmpty || maxPostingSize.isEmpty,
      "pass either hotFrameKeys (a precomputed hot set) or maxPostingSize " +
        "(an internal cap), not both - a hot set computed under a different " +
        "cap would silently override maxPostingSize")
    // SET semantics enforced here, not assumed: two frames of one video
    // hashing identically (static intro/outro frames — the norm) must
    // count once, or multiplicities skew inter past un and jacc_milli
    // divides by zero / goes negative
    val p = postings.select(col("id"), col("fhash")).distinct()
    val sizes = p.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val hotSet: Option[DataFrame] = (hotFrameKeys, maxPostingSize) match {
      case (Some(hot), _) => Some(hot.select(col("fhash")))
      case (None, Some(cap)) => Some(
        p.groupBy(col("fhash")).agg(count(lit(1)).as("n"))
          .filter(col("n") > cap).select(col("fhash")))
      case (None, None) => None
    }
    hotSet match {
      case None =>
        p.select(col("id").as("id_a"), col("fhash"))
          .join(p.select(col("id").as("id_b"), col("fhash"))
            .hint("shuffle_hash"), Seq("fhash"))
          .filter(col("id_a") < col("id_b"))
          .groupBy(col("id_a"), col("id_b")).agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("id").as("id_a"), col("sz").as("sza"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(sizes.select(col("id").as("id_b"), col("sz").as("szb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .withColumn("un", col("sza") + col("szb") - col("inter"))
          .filter(lit(1000) * col("inter") >= lit(tMilli) * col("un"))
          .select(col("id_a"), col("id_b"), col("inter"), col("un"),
            expr("(1000 * inter) DIV un").as("jacc_milli"))
      case Some(hot) =>
        // the cap gates CANDIDATE GENERATION ONLY (the lshCandidatePairs
        // rule): verification joins back to the FULL sets, so a pair
        // sharing a hot hash still verifies with its true intersection —
        // a verify on cap-filtered postings would strictly underestimate
        // J and silently drop true pairs
        val joinable = p.join(broadcast(hot), Seq("fhash"), "left_anti")
        val cand = joinable.select(col("id").as("id_a"), col("fhash"))
          .join(joinable.select(col("id").as("id_b"), col("fhash"))
            .hint("shuffle_hash"), Seq("fhash"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b")).distinct()
        // verify against per-id frame-hash SET ARRAYS (round 19, the
        // similarityJoin rewrite applied here): two candidate-bounded
        // id-keyed joins and a row-local array_intersect replace the
        // occurrence-level double join + per-pair count, which
        // materialized |cand| × |frames| rows and shuffled them by
        // (id_b, fhash). Signatures are maxFrames-bounded arrays, so
        // the joined rows stay tiny; intersection SIZE is
        // order-independent, so collect_set's nondeterministic array
        // order cannot show. The cap still gates candidates only —
        // sigs carry the FULL sets including hot hashes.
        val sig = p.groupBy(col("id")).agg(collect_set(col("fhash")).as("sig"))
        cand
          .join(sig.select(col("id").as("id_a"), col("sig").as("_sa"))
            .hint("shuffle_hash"), Seq("id_a"))
          .join(sig.select(col("id").as("id_b"), col("sig").as("_sb"))
            .hint("shuffle_hash"), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("_sa"), col("_sb"))).cast("long")
              .as("inter"),
            (size(col("_sa")).cast("long") + size(col("_sb"))).as("_szsum"))
          .withColumn("un", col("_szsum") - col("inter"))
          .filter(lit(1000) * col("inter") >= lit(tMilli) * col("un"))
          .select(col("id_a"), col("id_b"), col("inter"), col("un"),
            expr("(1000 * inter) DIV un").as("jacc_milli"))
    }
  }

  /** Incremental frame-set near-dup: verified pairs between a NEW
    * batch's postings and the persisted posting store
    * ([[graft.sources.FrameHashStore]]) — the video analog of
    * [[incrementalHammingPairs]]: batch × store only, the store never
    * re-pairs against itself. `inter` counts hashes present on BOTH
    * sides of a pair, so a capped hash must drop from BOTH posting
    * sides — and like the q123 rule the cap is evaluated over the
    * COMBINED population. `hotFrameKeys` (as in
    * [[frameSetNearDupPairs]]) supplies a caller-precomputed hot set
    * — compute it over the combined population
    * (`hotFrameHashes(newPostings.unionAll(storePostings), cap)`) so
    * operator and accounting provably agree. Output: (new_id,
    * store_id, inter, un, jacc_milli), J ≥ tMilli. Id spaces must be
    * disjoint. */
  def incrementalFrameSetPairs(newPostings: DataFrame,
      storePostings: DataFrame, tMilli: Int,
      maxPostingSize: Option[Int] = None,
      hotFrameKeys: Option[DataFrame] = None): DataFrame = {
    require(tMilli > 0, s"tMilli must be positive, got $tMilli")
    // same loud-failure rule as frameSetNearDupPairs - and doubly so
    // here, where a correct hot set must come from the COMBINED
    // batch+store population: a conflicting maxPostingSize silently
    // losing would hide a wrong-population hot set too
    require(hotFrameKeys.isEmpty || maxPostingSize.isEmpty,
      "pass either hotFrameKeys (a precomputed hot set over the combined " +
        "batch+store population) or maxPostingSize (an internal cap), not " +
        "both - a hot set computed under a different cap or population " +
        "would silently override maxPostingSize")
    // SET semantics enforced here (see frameSetNearDupPairs)
    val np = newPostings.select(col("id"), col("fhash")).distinct()
    val sp = storePostings.select(col("id"), col("fhash")).distinct()
    val nsz = np.groupBy(col("id")).agg(count(lit(1)).as("nsz"))
    val ssz = sp.groupBy(col("id")).agg(count(lit(1)).as("ssz"))
    def verified(pairs: DataFrame): DataFrame = pairs
      .join(nsz.select(col("id").as("new_id"), col("nsz"))
        .hint("shuffle_hash"), Seq("new_id"))
      .join(ssz.select(col("id").as("store_id"), col("ssz"))
        .hint("shuffle_hash"), Seq("store_id"))
      .withColumn("un", col("nsz") + col("ssz") - col("inter"))
      .filter(lit(1000) * col("inter") >= lit(tMilli) * col("un"))
      .select(col("new_id"), col("store_id"), col("inter"), col("un"),
        expr("(1000 * inter) DIV un").as("jacc_milli"))
    val hotSet: Option[DataFrame] = (hotFrameKeys, maxPostingSize) match {
      case (Some(hot), _) => Some(hot.select(col("fhash")))
      case (None, Some(cap)) => Some(
        np.select(col("fhash")).unionAll(sp.select(col("fhash")))
          .groupBy(col("fhash")).agg(count(lit(1)).as("n"))
          .filter(col("n") > cap).select(col("fhash")))
      case (None, None) => None
    }
    hotSet match {
      case None =>
        verified(np.select(col("id").as("new_id"), col("fhash"))
          // the store side grows without bound — pin shuffle_hash
          .join(sp.select(col("id").as("store_id"), col("fhash"))
            .hint("shuffle_hash"), Seq("fhash"))
          .groupBy(col("new_id"), col("store_id"))
          .agg(count(lit(1)).as("inter")))
      case Some(hot) =>
        // cap gates candidates only, over the COMBINED population (the
        // q123 rule); verify joins back to the FULL sets
        val cand = np.join(broadcast(hot), Seq("fhash"), "left_anti")
          .select(col("id").as("new_id"), col("fhash"))
          .join(sp.join(broadcast(hot), Seq("fhash"), "left_anti")
            .select(col("id").as("store_id"), col("fhash"))
            .hint("shuffle_hash"), Seq("fhash"))
          .select(col("new_id"), col("store_id")).distinct()
        verified(cand
          .join(np.select(col("id").as("new_id"), col("fhash"))
            .hint("shuffle_hash"), Seq("new_id"))
          .join(sp.select(col("id").as("store_id"), col("fhash"))
            .hint("shuffle_hash"), Seq("store_id", "fhash"))
          .groupBy(col("new_id"), col("store_id"))
          .agg(count(lit(1)).as("inter")))
    }
  }

  /** Accounting for the hot-frame guardrail — the [[hotBuckets]]
    * discipline applied to frame-hash postings: the frame hashes a
    * given `maxPostingSize` cap would drop from candidate generation,
    * with the number of DISTINCT entities carrying each (the posting
    * population the cap measures). Log/persist this next to the
    * frame-set dedup output so dropped candidate mass is visible —
    * an entity whose every frame is hot pairs with nothing, and that
    * loss must be accounted, not silent. For the incremental path pass
    * the COMBINED population (`newPostings.unionAll(storePostings)`),
    * matching how [[incrementalFrameSetPairs]] evaluates its cap. */
  def hotFrameHashes(postings: DataFrame, cap: Int): DataFrame =
    postings.select(col("id"), col("fhash")).distinct()
      .groupBy(col("fhash")).agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > cap)

  /** One video-ingestion ADMISSION fold over the persisted posting
    * store (the [[imageAdmissionIngest]] shape one level up): a batch
    * video is admitted iff it is a frame-set near-dup of NOTHING
    * already stored AND of no earlier-id video in its own batch
    * (min-id canonical within the batch); admitted videos' postings
    * append as the batch's own delta — replays overwrite their delta
    * and re-decide against the store WITHOUT it, so admission is
    * exactly-once. Returns the admitted postings. */
  def videoAdmissionIngest(batchPostings: DataFrame, dir: String,
      batchId: String, tMilli: Int): DataFrame = {
    val spark = batchPostings.sparkSession
    // distinct before the append: the pair operators enforce set
    // semantics internally, but the delta written to the store must be
    // a set too (the store's dedupe collapses across deltas, not
    // within-write duplicates a caller could otherwise inflate)
    val b = batchPostings.select(col("id"), col("fhash")).distinct()
    val store = graft.sources.FrameHashStore.load(spark, dir, Some(batchId))
    val hitStore = incrementalFrameSetPairs(b, store, tMilli)
      .select(col("new_id").as("id")).distinct()
    val within = frameSetNearDupPairs(b, tMilli)
      .select(col("id_b").as("id")).distinct()
    val admitted = b
      .join(hitStore.hint("shuffle_hash"), Seq("id"), "left_anti")
      .join(within.hint("shuffle_hash"), Seq("id"), "left_anti")
    graft.sources.FrameHashStore.appendDelta(admitted, dir, batchId)
    admitted
  }

  /** Streaming exact dedup: keep the first-seen document per content
    * fingerprint across ALL batches — the incremental form of
    * [[dropExactDuplicates]] for a continuously-arriving corpus. State is
    * one boolean per fingerprint, partitioned across executors by the
    * fingerprint key; each micro-batch shuffles only its new rows.
    * (At 100 TB of history the state store is RocksDB-backed; the logic
    * is identical.) State never expires — exact dedup against ALL
    * history; for bounded state use [[streamingDedupWithTtl]]. */
  def streamingDedupFirstSeen(docs: org.apache.spark.sql.Dataset[(String, Long, String)])
      : org.apache.spark.sql.Dataset[(String, Long, String)] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val rowEnc = E.tuple(E.STRING, E.scalaLong, E.STRING)
    implicit val boolEnc = E.scalaBoolean
    docs.groupByKey(_._1)(E.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(String, Long, String)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty // fingerprint already emitted
          else {
            state.update(true)
            // first row by id wins within the batch, matching min-id
            // canonical choice of the batch dedup
            rows.toSeq.sortBy(_._2).headOption.iterator
          }
      }
  }

  /** Streaming dedup with a dedup HORIZON: a fingerprint's state expires
    * `ttlMillis` after its last occurrence (event time), so a duplicate
    * arriving beyond the horizon is treated as new. Bounds state to the
    * fingerprints active within one TTL window — the standard trade for
    * infinite streams where exact all-history dedup would grow state
    * forever. Caller must put a watermark on the `ts` field (_4). */
  def streamingDedupWithTtl(
      docs: org.apache.spark.sql.Dataset[(String, Long, String, java.sql.Timestamp)],
      ttlMillis: Long)
      : org.apache.spark.sql.Dataset[(String, Long, String)] = {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val outEnc = E.tuple(E.STRING, E.scalaLong, E.STRING)
    implicit val boolEnc = E.scalaBoolean
    docs.groupByKey(_._1)(E.STRING)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (fp: String, rows: Iterator[(String, Long, String, java.sql.Timestamp)],
            state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove() // horizon passed → forget the fingerprint
            Iterator.empty
          } else {
            val rowSeq = rows.toSeq
            val out =
              if (state.exists) Iterator.empty
              else {
                state.update(true)
                rowSeq.sortBy(_._2).headOption.map(r => (r._1, r._2, r._3)).iterator
              }
            val lastTs = rowSeq.map(_._4.getTime).max
            state.setTimeoutTimestamp(
              math.max(lastTs + ttlMillis, state.getCurrentWatermarkMs() + 1))
            out
          }
      }
  }

  /** Incremental exact dedup of a new batch against a persisted
    * fingerprint store (the production shape for a continuously-ingested
    * corpus dedup'd run-over-run): survivors are batch docs whose content
    * fingerprint is absent from the store, first-id-wins within the
    * batch. The store side carries ONLY 32-byte fingerprints — a
    * broadcast-or-shuffle anti-join on fp, never a text comparison; call
    * [[updatedFingerprintStore]] afterwards to persist store ∪ batch for
    * the next run. */
  def incrementalDedup(newDocs: DataFrame, store: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withFp = newDocs.withColumn("fp", storeFingerprint(col(textCol)))
    val fresh = withFp.join(store.select(col("fp")), Seq("fp"), "left_anti")
    val first = fresh.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    fresh.join(first, Seq("fp", idCol))
  }

  /** Content fingerprint as used by the incremental-dedup store paths:
    * null text maps to a non-hex SENTINEL rather than null, because the
    * null-rejecting equi-joins downstream (anti-join vs the store, the
    * (fp, id) first-id re-join) would otherwise silently DROP null-text
    * docs from the output. With the sentinel, null-text docs dedup
    * against each other (first id wins) like any other equal-content
    * group. Stores built through [[updatedFingerprintStore]] use the
    * same mapping; a hand-built store must too. */
  private[graft] def storeFingerprint(text: Column): Column =
    coalesce(graft.functions.TextFunctions.contentFingerprint(text),
      lit("null-text"))

  /** [[incrementalDedup]] with a Bloom pre-filter on the store: batch
    * rows whose fingerprint tests bloom-NEGATIVE are provably absent
    * from the store (no false negatives) and bypass the anti-join
    * entirely; only the maybe-duplicate sliver (true dups + fpp of the
    * fresh) shuffles against the store. Identical output to the exact
    * form by construction — the filter routes, it never decides.
    *
    * Scale contract: the filter is built driver-side (`stat.bloomFilter`)
    * and broadcast inside a closure — right up to ~1e9 store items at
    * 1% fpp (~1.2 GB). Beyond that, skip this and let AQE's runtime
    * bloom filter do the same routing shuffle-side, or shard the store
    * and pre-filter per shard. */
  def incrementalDedupBloom(newDocs: DataFrame, store: DataFrame,
      expectedItems: Long, fpp: Double = 0.01,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // an EMPTY store makes stat.bloomFilter return a null buffer (NPE on
    // deserialize) — and contains nothing anyway, so every row is
    // provably fresh and the probe is constant-false
    val storeFp = store.select(col("fp"))
    val bloomOpt =
      if (storeFp.isEmpty) None
      else Some(storeFp.stat.bloomFilter("fp", expectedItems, fpp))
    // a udf (not a Row filter) keeps the plan declarative around the
    // probe; the closure ships the serialized filter to executors once
    val mightContain = bloomOpt match {
      case Some(bloom) => udf((s: String) => s != null && bloom.mightContain(s))
      case None        => udf((_: String) => false)
    }
    // probe ONCE per row, and detach the routed batch so the two union
    // branches below don't each re-scan + re-digest the input: one
    // materialization (spilling to disk past memory) beats recomputing
    // the md5 over the full batch, which is the dominant per-row cost
    // this routing exists to bound
    val routed = Materialize.detached(
      newDocs.withColumn("fp", storeFingerprint(col(textCol)))
        .withColumn("maybe_dup", mightContain(col("fp"))))
    val fresh = routed.filter(!col("maybe_dup")).unionByName(
      routed.filter(col("maybe_dup"))
        .join(store.select(col("fp")), Seq("fp"), "left_anti"))
      .drop("maybe_dup")
    val first = fresh.groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
    fresh.join(first, Seq("fp", idCol))
  }

  /** The next run's store: previous fingerprints ∪ this batch's
    * (null-text docs contribute the [[storeFingerprint]] sentinel). */
  def updatedFingerprintStore(store: DataFrame, newDocs: DataFrame,
      textCol: String = "text"): DataFrame =
    store.select(col("fp")).unionByName(
      newDocs.select(storeFingerprint(col(textCol)).as("fp"))).distinct()

  /** Connected components over a near-dup pair graph: every doc labeled
    * with the MINIMUM id reachable through pair edges — the transitive
    * closure that turns pairwise matches into dedup clusters with a
    * canonical representative (keep comp == id, drop the rest).
    *
    * Small graphs finish on the driver: when the symmetrized edge set
    * has at most `localFinishEdges` rows (default [[LocalFinishEdges]],
    * 2^18, which bounds the driver memory of this path to about 40 MB)
    * and the ids are Long or Int, the edges are collected and solved by
    * union-find in one pass, and the labels return as a broadcast local
    * relation — no propagation rounds (0 reported), so `maxIter` does
    * not apply and a long chain under the cap closes instead of
    * throwing. Above the cap (or for any other id type) the distributed
    * rounds below run; deciding reads at most cap + 1 edge rows. Both
    * paths give the same rows and schema (CcLocalFinishSpec).
    *
    * Distributed path: iterative min-label propagation — but ONLY over
    * the frontier (nodes that appear in at least one edge): a node with
    * no edges can never change labels, so looping it is pure shuffle
    * waste. For a near-dup graph the frontier is a tiny fraction of the
    * corpus (pairs ≪ docs), which turns each round's shuffles from
    * O(corpus) into O(endpoints). Isolated nodes are re-attached once at
    * the end via a left join with comp defaulting to the node's own id.
    *
    * Convergence in ≤ graph-diameter rounds (near-dup clusters are
    * shallow — dup pairs and small chains — so typically 2-3), with two
    * per-round economies: (a) DELTA propagation — only labels that
    * changed last round are pushed to neighbors, so after round 1 the
    * join touches frontier-incident edges, not all of them, and the
    * terminating round is a near-empty probe instead of a full
    * propagation+compare; (b) the change test is a narrow filter over
    * the round's already-materialized output, never a separate
    * labels⋈labels join. `maxIter` is a safety bound on the distributed
    * path — hitting it throws rather than returning silently-unconverged
    * labels.
    *
    * Lineage/fault story: by default each round is a local
    * [[graft.core.Materialize.cut]] — eager executor-stored blocks with NO
    * lineage, the fast choice on a healthy cluster but unrecoverable if
    * an executor dies mid-propagation. For multi-hour 100 TB dedup runs
    * pass `checkpointDir = Some(dir)`: every `checkpointEvery`-th round
    * writes a RELIABLE checkpoint (HDFS/object store) and intermediate
    * rounds are detached WITH lineage, so losing an executor recomputes at
    * most `checkpointEvery` rounds from the last durable cut instead of
    * failing the job.
    *
    * Output is keyed by `nodes`: an edge endpoint absent from `nodes`
    * still RELAYS labels (it sits in the frontier, so chains passing
    * through it merge) but emits no row of its own — and can never BE
    * a component's representative: after convergence, each component's
    * label is remapped to the minimum id among its `nodes` members, so
    * `comp` always names a real row and the keep-policy
    * `comp == id` always keeps exactly one member per cluster. */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame,
      idCol: String = "id", aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 20, checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      localFinishEdges: Int = LocalFinishEdges): DataFrame =
    connectedComponentsWithRounds(nodes, pairs, idCol, aCol, bCol,
      maxIter, checkpointDir, checkpointEvery, localFinishEdges)._1

  /** Symmetric edge rows (each pair counts twice) up to which
    * [[connectedComponents]] finishes on the driver instead of running
    * propagation rounds. It bounds the driver memory of that path: at
    * most cap + 1 rows are collected (about 80 bytes each as `Row`s,
    * ~21 MB at 2^18), plus per edge row two `Long`s and per endpoint
    * about 60 bytes (id, union-find parent, two local-relation rows) —
    * roughly 40 MB in all at the cap. All but the label relation (at
    * most 2^18 id pairs, held by the returned plan) is released on
    * return. Callers pass another value only to pin both sides of the
    * cap in specs. */
  val LocalFinishEdges: Int = 1 << 18

  /** Keep-BEST dedup policy over near-dup components: per component,
    * survive the member with the highest quality score (ties broken by
    * lowest id — fully deterministic). Complements the keep-first policy
    * ([[dedupExact]] / the q75 canonical-min representative): keep-first
    * is cheapest, but a production near-dup pass usually wants to retain
    * the best-quality copy of each cluster, not the lowest-id one.
    *
    * Shape: components (id, comp) join scores (id, score) on id — both
    * narrow — then ONE map-side-combinable aggregation per component:
    * argmax as max(struct(score, -id)) so no per-component sort and no
    * window. Scales as the component table, not the corpus. */
  def keepBestPerComponent(components: DataFrame, scores: DataFrame,
      idCol: String = "id", compCol: String = "comp",
      scoreCol: String = "score"): DataFrame =
    components.join(scores, Seq(idCol))
      .groupBy(col(compCol))
      .agg(count(lit(1)).as("n_docs"),
        max(struct(col(scoreCol).as("s"), (-col(idCol)).as("negId"))).as("w"))
      .select(col(compCol), col("w.s").as("kept_score"),
        (-col("w.negId")).as("kept_id"), col("n_docs"))

  /** Incremental connected components: fold a NEW batch's verified
    * near-dup pairs into the PERSISTED components table without
    * relabeling the corpus — the run-over-run form of clustering, one
    * level up from [[incrementalNearDupPairs]]. Only components TOUCHED
    * by a new edge are re-solved: any cross-run merge path must use at
    * least one new edge, so a component with no endpoint among
    * `newPairs` cannot change and carries over as-is. The touched slice
    * re-labels over its STAR edges (member — canonical; the canonical
    * is itself the min member, so stars reproduce the old connectivity
    * exactly) plus the new pairs — history replays from the compressed
    * (id, comp) table, never by re-pairing stored text.
    *
    * Caller contract: `newIds` (the full batch, singletons included)
    * is id-disjoint from the store; `newPairs` holds every verified
    * pair with ≥1 batch endpoint (batch↔store from
    * [[incrementalNearDupPairs]], batch↔batch from the within-batch
    * pipeline). Contract pinned by spec AND oracle (q123): the merged
    * table EQUALS from-scratch [[connectedComponents]] over the whole
    * graph. Cost scales with touched components + batch, not corpus. */
  def mergeComponents(storeComps: DataFrame, newIds: DataFrame,
      newPairs: DataFrame, idCol: String = "id", compCol: String = "comp",
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    // newPairs is typically the tail of an expensive LSH+verify
    // pipeline and is referenced three times below (endpoints, the CC
    // edge set, and through the untouched-side anti-join) — detach it
    // so the pipeline runs once
    val np = Materialize.detached(newPairs.select(col(aCol), col(bCol)))
    val endpoints = np.select(col(aCol).as(idCol))
      .unionByName(np.select(col(bCol).as(idCol))).distinct()
    val affected = storeComps.join(endpoints, Seq(idCol), "left_semi")
      .select(col(compCol)).distinct()
    val touched = storeComps.join(affected, Seq(compCol), "left_semi")
    val starEdges = touched
      .select(col(idCol).as(aCol), col(compCol).as(bCol))
    val nodes = touched.select(col(idCol))
      .unionByName(newIds.select(col(idCol))).distinct()
    val solved = connectedComponents(nodes, np.unionByName(starEdges),
      idCol, aCol, bCol)
      .select(col("id").as(idCol), col("comp").as(compCol))
    storeComps.join(affected, Seq(compCol), "left_anti")
      .select(col(idCol), col(compCol))
      .unionByName(solved)
  }

  /** [[connectedComponents]] plus the number of propagation rounds run —
    * the early-exit witness (a pair-only graph must cost exactly 2: one
    * full round, one frontier-only probe that finds no changes). The
    * driver-local finish (at most `localFinishEdges` symmetric edge
    * rows) runs no rounds and reports 0; `maxIter` bounds only the
    * distributed rounds. */
  def connectedComponentsWithRounds(nodes: DataFrame, pairs: DataFrame,
      idCol: String = "id", aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 20, checkpointDir: Option[String] = None,
      checkpointEvery: Int = 5,
      localFinishEdges: Int = LocalFinishEdges): (DataFrame, Int) = {
    require(checkpointEvery > 0, "checkpointEvery must be positive")
    require(localFinishEdges >= 0, "localFinishEdges must be non-negative")
    // only set the context checkpoint dir when none is configured — the
    // application may have pointed it at durable storage globally, and
    // silently redirecting every other checkpoint user would be rude
    checkpointDir.foreach { dir =>
      val sc = nodes.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
    }
    // reliable mode keeps lineage between durable cuts (detached, not a
    // local cut) so recomputation after executor loss is possible; a
    // detached round is released once its successor holds its rows
    var prevDetached = Option.empty[DataFrame]
    def materialize(df: DataFrame, round: Int): DataFrame = checkpointDir match {
      case Some(_) =>
        val p =
          if (round % checkpointEvery == 0) df.checkpoint()
          else { val d = Materialize.detached(df); d.count(); d }
        prevDetached.foreach(Materialize.release)
        prevDetached = Some(p).filter(_ => round % checkpointEvery != 0)
        p
      case None => Materialize.cut(df)
    }
    // symmetrize with ONE pass over `pairs` (explode, not union): the
    // pair frame is typically the tail of an expensive LSH+verify
    // pipeline, and a union of two selections evaluates that pipeline
    // twice unless exchange reuse happens to fire
    val edges = pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
    Materialize.scope { s =>
      s.keep(edges)
      localFinish(nodes, idCol, edges, localFinishEdges).map((_, 0))
        .getOrElse(propagate(nodes, idCol, edges, maxIter, materialize))
    }
  }

  /** The distributed rounds of [[connectedComponentsWithRounds]] over
    * the symmetric `edges`, each round's labels made by `materialize`,
    * which must compute the round's rows (an eager cut or checkpoint). */
  private[operators] def propagate(nodes: DataFrame, idCol: String,
      edges: DataFrame, maxIter: Int,
      materialize: (DataFrame, Int) => DataFrame)
      : (DataFrame, Int) = {
    // symmetric edges ⇒ the src column alone covers every endpoint
    var labels = materialize(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")), 0)
    // frontier = labels that changed last round; only THEIR neighbors
    // can improve, so pushing anything else is shuffle waste
    var frontier = labels
    var converged = false
    var iter = 0
    val sc = nodes.sparkSession.sparkContext
    while (!converged && iter < maxIter) {
      val candidates = edges
        .join(frontier.withColumnRenamed("id", "src"), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min(col("comp")).as("cand"))
      // convergence rides the materialization action itself: the chg
      // flag passes through an accumulator-tallying udf, so the eager
      // checkpoint that computes the round's rows ALSO counts changes —
      // one action per round instead of materialize + a separate probe
      // job. Task retries can only OVER-count (rows recompute, the
      // accumulator only grows), and the test is zero-vs-nonzero: a
      // round with any change has acc ≥ 1 under any retry schedule, a
      // converged round has exactly 0 (no row sets the flag). The udf
      // also counts the rows it saw, so a round that `materialize` did
      // not compute cannot pass for a converged one.
      val (chgAcc, rowAcc, tally) = roundTally(sc, s"cc-round-${iter + 1}")
      val next = materialize(
        labels.join(candidates, Seq("id"), "left")
          .select(col("id"),
            when(col("cand") < col("comp"), col("cand"))
              .otherwise(col("comp")).as("comp"),
            // null cand (no frontier neighbor) is falsy — unchanged
            tally(coalesce(col("cand") < col("comp"), lit(false))).as("chg")),
        iter + 1)
      frontier = next.filter(col("chg")).select(col("id"), col("comp"))
      converged = chgAcc.value == 0
      if (converged)
        requireComputed(rowAcc, next, s"connectedComponents round ${iter + 1}")
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    val nodeLabels = nodes.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("comp", "frontier_comp"), Seq("id"), "left")
      .select(col("id"), coalesce(col("frontier_comp"), col("id")).as("raw_comp"))
    // canonicalize: the propagated label can be an edge-only relay id
    // (never a `nodes` row); remap each component to its minimum NODE
    // id so `comp == id` always names a real member. One extra
    // aggregation over the node table, once, after convergence.
    val canon = nodeLabels.groupBy(col("raw_comp"))
      .agg(min(col("id")).as("comp"))
    (nodeLabels.join(canon, Seq("raw_comp")).select(col("id"), col("comp")), iter)
  }

  /** A convergence tally for one CC round: an accumulator of changed
    * rows, one of evaluated rows, and the udf that passes a row's change
    * flag through while adding to both. */
  private def roundTally(sc: org.apache.spark.SparkContext, name: String)
      : (LongAccumulator, LongAccumulator, UserDefinedFunction) = {
    val changed = sc.longAccumulator(s"$name-changed")
    val rows = sc.longAccumulator(s"$name-rows")
    val tally = udf { (chg: Boolean) =>
      rows.add(1L)
      if (chg) changed.add(1L)
      chg
    }.asNondeterministic()
    (changed, rows, tally)
  }

  /** Throws unless the round's tally saw rows or the round has none
    * (an empty graph, checked by one `isEmpty` job only then): a round
    * its materialization left uncomputed has a change count of 0 that
    * says nothing, and converging on it would return stale labels. */
  private def requireComputed(rows: LongAccumulator, next: DataFrame,
      round: String): Unit =
    if (rows.value == 0 && !next.isEmpty)
      throw new IllegalStateException(s"$round evaluated no rows: its " +
        "materialization did not compute the round, so its change count " +
        "cannot decide convergence")

  /** The driver-local finish of [[connectedComponentsWithRounds]]: None
    * when the ids are not Long/Int or `edges` (symmetric src/dst) has
    * more than `cap` rows — only cap + 1 rows are read to decide. Else
    * union-find over the collected edges, always hanging the larger
    * root under the smaller, then each component maps to its minimum
    * NODE id (one broadcast semi-join of `nodes` against the endpoints
    * says which endpoints are nodes; the others only relay). */
  private def localFinish(nodes: DataFrame, idCol: String, edges: DataFrame,
      cap: Int): Option[DataFrame] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, LongType, StructField,
      StructType}
    val idType = nodes.select(col(idCol)).schema.head.dataType
    if ((idType != LongType && idType != IntegerType) ||
        edges.schema("src").dataType != idType) return None
    val rows = edges.limit(cap + 1).collect()
    if (rows.length > cap) return None
    def id(r: Row, i: Int): Long =
      if (idType == LongType) r.getLong(i) else r.getInt(i).toLong
    // a null endpoint never joins in the distributed rounds: drop it
    val live = rows.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
    val (src, dst) = (live.map(id(_, 0)), live.map(id(_, 1)))
    // symmetric edges ⇒ src covers every endpoint; sorted, so the
    // smaller index is the smaller id
    val endpoints = src.distinct.sorted
    def index(v: Long): Int = java.util.Arrays.binarySearch(endpoints, v)
    val parent = Array.tabulate(endpoints.length)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    src.indices.foreach { k =>
      val (a, b) = (find(index(src(k))), find(index(dst(k))))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
    }
    val box: Long => Any =
      if (idType == LongType) v => v else v => v.toInt
    def local(cols: Seq[String], data: Seq[Row]): DataFrame =
      nodes.sparkSession.createDataFrame(java.util.Arrays.asList(data: _*),
        StructType(cols.map(StructField(_, idType))))
    val isNode = new Array[Boolean](endpoints.length)
    if (endpoints.nonEmpty)
      nodes.select(col(idCol).as("id"))
        .join(broadcast(local(Seq("id"), endpoints.toSeq.map(v => Row(box(v))))),
          Seq("id"), "left_semi")
        .collect().foreach(r => isNode(index(id(r, 0))) = true)
    // ascending scan ⇒ the first node met in a component is its minimum
    val compMin = Array.fill(endpoints.length)(-1)
    endpoints.indices.foreach { i =>
      val root = find(i)
      if (isNode(i) && compMin(root) < 0) compMin(root) = i
    }
    val labels = endpoints.indices.filter(isNode).map(i =>
      Row(box(endpoints(i)), box(endpoints(compMin(find(i))))))
    // a null node id never meets its canonical row in the distributed
    // path's final join, so it emits no row there either
    Some(nodes.select(col(idCol).as("id")).filter(col("id").isNotNull)
      .join(broadcast(local(Seq("id", "comp"), labels)), Seq("id"), "left")
      // an edgeless node is its own component; `when` (not coalesce)
      // keeps comp nullable, as the distributed path's min() is
      .select(col("id"),
        when(col("comp").isNull, col("id")).otherwise(col("comp"))
          .as("comp")))
  }

  /** [[connectedComponents]] by min-label POINTER DOUBLING — the
    * O(log diameter) closure for graphs whose components CHAIN (the
    * Hamming-ball graphs of perceptual-hash dedup: consecutive hops
    * within maxDist bits walk arbitrarily far through hash space, so
    * diameter grows with hash density — measured: the 20-round
    * propagation default fails on the sf1.0 image fixture). Each round
    * folds THREE label sources per node and keeps the min: the node's
    * own label, its neighbors' labels (one propagation hop), and the
    * label OF its label (the pointer jump — label values are node ids,
    * so they have labels of their own). The jump is what compresses
    * chains: the radius a node's min has reached at least doubles per
    * round (hop extends it by one, jump composes two reached radii),
    * hence log₂(diameter) + O(1) rounds instead of diameter.
    *
    * Correctness: labels start at own-id, only ever decrease, and are
    * bounded below, so a fixpoint exists; at a fixpoint the hop arm
    * forces L(u) == L(v) across every edge (both directions fold), so
    * L is constant per component, and the constant is the component's
    * minimum id (every node's own id was in the running). Identical
    * output to [[connectedComponents]] — the equality is spec-pinned,
    * including on a long chain where the propagation form cannot
    * converge inside any reasonable bound.
    *
    * Trade vs the propagation form: the doubling rounds shuffle the
    * FULL frontier label table (three unions + an agg + a jump join)
    * where propagation rounds touch only last round's changed labels —
    * so on shallow graphs (text near-dup: diameter 2-3) propagation is
    * cheaper, and on chained graphs doubling is the one that finishes.
    * Pick by graph family; both share the canonicalization tail. */
  def connectedComponentsDoubling(nodes: DataFrame, pairs: DataFrame,
      idCol: String = "id", aCol: String = "id_a", bCol: String = "id_b",
      maxIter: Int = 32): DataFrame =
    connectedComponentsDoublingWithRounds(nodes, pairs, idCol, aCol, bCol,
      maxIter)._1

  /** [[connectedComponentsDoubling]] + the round count it took. */
  def connectedComponentsDoublingWithRounds(nodes: DataFrame,
      pairs: DataFrame, idCol: String = "id", aCol: String = "id_a",
      bCol: String = "id_b", maxIter: Int = 32): (DataFrame, Int) =
    doublingRounds(nodes, pairs, idCol, aCol, bCol, maxIter, Materialize.cut)

  /** [[connectedComponentsDoublingWithRounds]] with each round's labels
    * made by `cut`, which must compute the round's rows. */
  private[operators] def doublingRounds(nodes: DataFrame, pairs: DataFrame,
      idCol: String, aCol: String, bCol: String, maxIter: Int,
      cut: DataFrame => DataFrame): (DataFrame, Int) =
      Materialize.scope { s =>
    val edges = s.keep(pairs
      .select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct())
    var labels = cut(edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id")))
    var converged = false
    var iter = 0
    val sc = nodes.sparkSession.sparkContext
    while (!converged && iter < maxIter) {
      // one propagation hop: neighbors' labels flow across each edge
      val viaEdge = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("comp"), lit(false).as("own"))
      // the pointer jump: my label's OWN label (labels are node ids of
      // frontier members, so the self-join always finds a row)
      val jumped = labels
        .join(labels.select(col("id").as("comp"), col("comp").as("jc")),
          Seq("comp"))
        .select(col("id"), col("jc").as("comp"), lit(false).as("own"))
      // the convergence test rides the round's OWN aggregation: the
      // `labels` arm is tagged own=true (exactly one such row per id —
      // labels is a label table, and every id in the hop/jump arms is an
      // edge endpoint, hence labeled), so min(comp WHERE own) re-derives
      // the previous label inside the same groupBy and chg = strict
      // decrease — replacing the labels⋈labels convergence join + count
      // job that previously shuffled both full label tables once per
      // round. The accumulator tallies during the eager checkpoint (the
      // propagation-form contract: retries only over-count, the test is
      // zero-vs-nonzero, and a round the cut did not compute throws).
      val (chgAcc, rowAcc, tally) = roundTally(sc, s"ccd-round-${iter + 1}")
      val next = cut(labels.withColumn("own", lit(true))
        .unionByName(viaEdge).unionByName(jumped)
        .groupBy(col("id")).agg(min(col("comp")).as("comp"),
          min(when(col("own"), col("comp"))).as("_old"))
        .select(col("id"), col("comp"),
          tally(coalesce(col("comp") < col("_old"), lit(false))).as("chg")))
      converged = chgAcc.value == 0
      if (converged) requireComputed(rowAcc, next,
        s"connectedComponentsDoubling round ${iter + 1}")
      labels = next.select(col("id"), col("comp"))
      iter += 1
    }
    require(converged,
      s"connectedComponentsDoubling did not converge in $maxIter rounds")
    val nodeLabels = nodes.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("comp", "frontier_comp"), Seq("id"),
        "left")
      .select(col("id"),
        coalesce(col("frontier_comp"), col("id")).as("raw_comp"))
    val canon = nodeLabels.groupBy(col("raw_comp"))
      .agg(min(col("id")).as("comp"))
    (nodeLabels.join(canon, Seq("raw_comp")).select(col("id"), col("comp")),
      iter)
  }

  /** The keep-policy over [[connectedComponents]]: retain only each
    * cluster's canonical (minimum-id) member — the final filter of the
    * near-dup pipeline (pairs → components → drop). */
  def dropNearDuplicates(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(
      docs.select(col(idCol).as("id")), pairs)
    docs.join(comp.filter(col("id") =!= col("comp"))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
  }

  /** Incremental NEAR-dup: candidate pairs between a new batch and a
    * persisted corpus, both in [[minhashed]] form — the LSH analog of
    * [[incrementalDedup]]'s exact anti-join, for run-over-run ingestion
    * where each batch must be checked against everything already
    * admitted without re-pairing the whole corpus. The store side is
    * the minhashed table persisted once (32 band keys + shingle set per
    * doc, NOT text); each run's join touches O(batch · bands) narrow
    * rows against it.
    *
    * Output: (new_id, store_id, jaccard) for verified pairs over
    * `threshold`. Caller contract: new and store id spaces are disjoint
    * (re-ingesting an id dedups exactly, not here).
    *
    * `maxBucketSize` caps the COMBINED (store + batch) population of a
    * band bucket — a boilerplate bucket with S store docs meets every
    * new doc it contains, so the quadratic risk is the combined count;
    * over-cap buckets drop from candidate generation with the same
    * accounting contract as [[hotBuckets]]. `hotBucketKeys` supplies the
    * hot set explicitly (same contract as [[lshCandidatePairs]]) so all
    * pair populations of an incremental solve share one exclusion. */
  def incrementalNearDupPairs(newMh: DataFrame, storeMh: DataFrame,
      threshold: Double = 0.5, maxBucketSize: Option[Int] = None,
      hotBucketKeys: Option[DataFrame] = None): DataFrame = {
    val nb = newMh.select(col("id").as("new_id"), explode(col("band_keys")).as("bk"))
    val sb = storeMh.select(col("id").as("store_id"), explode(col("band_keys")).as("bk"))
    val (nbF, sbF) = (hotBucketKeys, maxBucketSize) match {
      case (Some(hot), _) =>
        (nb.join(broadcast(hot.select(col("bk"))), Seq("bk"), "left_anti"),
          sb.join(broadcast(hot.select(col("bk"))), Seq("bk"), "left_anti"))
      case (None, Some(cap)) =>
        val hot = nb.select(col("bk")).unionAll(sb.select(col("bk")))
          .groupBy(col("bk")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") > cap).select(col("bk"))
        (nb.join(broadcast(hot), Seq("bk"), "left_anti"),
          sb.join(broadcast(hot), Seq("bk"), "left_anti"))
      case (None, None) => (nb, sb)
    }
    val pairs = nbF.join(sbF, Seq("bk"))
      .select(col("new_id"), col("store_id"))
      .dropDuplicates("new_id", "store_id")
    pairs
      .join(newMh.select(col("id").as("new_id"), col("shingles").as("sh_n")),
        Seq("new_id"))
      .join(storeMh.select(col("id").as("store_id"), col("shingles").as("sh_s")),
        Seq("store_id"))
      .withColumn("jaccard", jaccard(col("sh_n"), col("sh_s")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("store_id"), col("jaccard"))
  }

  /** Streaming form of [[incrementalNearDupPairs]]: verified near-dup
    * matches of a DOC STREAM against the persisted minhashed corpus,
    * as an append-mode match stream — every transformation is either
    * stateless or a stream-static join (band-key inner join, shingle
    * join-back), plus one stateful dropDuplicates so a doc pairing with
    * a store doc through several bands emits once.
    *
    * STATE BOUND: pass `eventTime = Some((tsCol, delay))` on any
    * long-running stream — the pair dedup then runs
    * dropDuplicatesWithinWatermark and its state expires with the
    * watermark (a doc's band matches all arrive in one micro-batch, so
    * any delay covering reorder slack is semantically enough). Without
    * it, plain dropDuplicates keeps every (new_id, store_id) pair ever
    * seen — fine for bounded test streams, unbounded growth in
    * production.
    *
    * Emits pairs, not admissions: doc-level admission needs an
    * anti-join against a stream-derived set (not expressible in
    * append mode) — run [[admitNearDupFree]] inside foreachBatch for
    * that, which is the production shape anyway (each micro-batch also
    * appends its survivors to the store). The hot-bucket cap here is
    * computed from the STORE side only (capping the combined count
    * would aggregate the stream — stateful); a store-hot bucket is
    * dropped, a merely stream-hot one is not, which at ingestion rates
    * ≪ corpus size is the same guardrail.
    *
    * One deviation from the batch plan: the STREAM side's shingles ride
    * through the band join (joining them back would be a stream-stream
    * join). That widens rows in proportion to the micro-batch — bounded
    * by ingestion rate — while the corpus-sized store side stays
    * narrow, which is the asymmetry that matters. */
  def streamingNearDupMatches(docStream: DataFrame, storeMh: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Option[Int] = None,
      eventTime: Option[(String, String)] = None): DataFrame = {
    // minhashed() projects other columns away, so the event-time column
    // (renamed first — a watermark does not survive a later rename) is
    // carried through an inline construction of the same shape
    val base = eventTime match {
      case Some((tsCol, delay)) =>
        docStream.withColumnRenamed(tsCol, "_ts").withWatermark("_ts", delay)
      case None => docStream
    }
    val tsCols = eventTime.map(_ => col("_ts")).toSeq
    val mh = base.select(Seq(col(idCol).as("id"),
        graft.functions.ShingleExpressions
          .wordShinglesDistinct(col(textCol), shingleSize).as("shingles"))
        ++ tsCols: _*)
      .withColumn("signature",
        graft.functions.HashExpressions.minhashSignature(col("shingles"), numHashes))
      .withColumn("band_keys", lshBandKeys(col("signature"), rowsPerBand))
    val nb = mh.select(Seq(col("id").as("new_id"), col("shingles").as("sh_n"),
      explode(col("band_keys")).as("bk")) ++ tsCols: _*)
    val sbAll = storeMh.select(col("id").as("store_id"), explode(col("band_keys")).as("bk"))
    val sb = maxBucketSize match {
      case Some(cap) =>
        val hot = sbAll.groupBy(col("bk")).agg(count(lit(1)).as("n_docs"))
          .filter(col("n_docs") > cap).select(col("bk"))
        sbAll.join(broadcast(hot), Seq("bk"), "left_anti")
      case None => sbAll
    }
    val cand = nb.join(sb, Seq("bk")) // stream-static inner join: stateless
      .select(Seq(col("new_id"), col("store_id"), col("sh_n")) ++ tsCols: _*)
    val deduped = eventTime match {
      case Some(_) => cand.dropDuplicatesWithinWatermark("new_id", "store_id")
      case None    => cand.dropDuplicates("new_id", "store_id")
    }
    deduped
      .join(storeMh.select(col("id").as("store_id"), col("shingles").as("sh_s")),
        Seq("store_id"))
      .withColumn("jaccard", jaccard(col("sh_n"), col("sh_s")))
      .filter(col("jaccard") >= threshold)
      .select(col("new_id"), col("store_id"), col("jaccard"))
  }

  /** The full incremental admission step: batch docs that are near-dup
    * of NEITHER the persisted corpus NOR an earlier (lower-id) batch
    * doc. Composes [[incrementalNearDupPairs]] (vs the store) with the
    * within-batch pipeline ([[lshCandidatePairs]] → [[jaccard]] →
    * [[dropNearDuplicates]]); the batch's minhashed table is computed
    * once and detached for both uses. Append [[minhashed]] rows
    * of the admitted docs to the store for the next run. */
  def admitNearDupFree(newDocs: DataFrame, storeMh: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Option[Int] = None): DataFrame = {
    val mh = Materialize.detached(
      minhashed(newDocs, idCol, textCol, shingleSize, numHashes, rowsPerBand))
    val vsStore = incrementalNearDupPairs(mh, storeMh, threshold, maxBucketSize)
      .select(col("new_id").as(idCol)).distinct()
    val withinPairs = lshCandidatePairs(mh, maxBucketSize)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"))
    dropNearDuplicates(newDocs, withinPairs, idCol)
      .join(vsStore, Seq(idCol), "left_anti")
  }

  /** Substring-containment candidates via rolling-hash fingerprints:
    * docs sharing at least `minShared` sampled Rabin-Karp window hashes.
    * Catches a doc copied INSIDE a larger doc — whole-document
    * fingerprints (md5, SimHash, MinHash over full shingle sets) all
    * dilute under containment, window sampling doesn't. Shuffle is
    * O(N · sampled windows) narrow (fp, id) rows, same shape as the LSH
    * band join — never O(N²). */
  def containmentCandidates(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 8, sampleMod: Int = 4,
      minShared: Int = 5, maxDocsPerFp: Option[Int] = None): DataFrame = {
    val allFps = docs.select(col(idCol).as("id"),
      explode(graft.functions.RollingHashExpr.of(col(textCol), window, sampleMod))
        .as("fp"))
    // same hot-key guardrail as the LSH band join: a boilerplate window
    // (license header, padding) shared by B docs would contribute B²
    // join rows on its fp — drop over-cap fingerprints (tiny list →
    // broadcast anti-join); containment still shows via the other
    // sampled windows of the contained span
    val fps = maxDocsPerFp match {
      case Some(cap) =>
        val hot = allFps.groupBy(col("fp"))
          .agg(count(lit(1)).as("n")).filter(col("n") > cap).select(col("fp"))
        allFps.join(broadcast(hot), Seq("fp"), "left_anti")
      case None => allFps
    }
    val a = fps.select(col("fp"), col("id").as("id_a"))
    val b = fps.select(col("fp"), col("id").as("id_b"))
    a.join(b, Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= minShared)
  }
}
