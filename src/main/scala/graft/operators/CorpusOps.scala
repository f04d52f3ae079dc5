package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.core.Materialize

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond dedup/similarity: benchmark decontamination, stable
  * hash-based splits, TF-IDF term scoring, and sequence packing. These
  * extend the reference's surface (it has none of them) with the same
  * design rule as Dedup: NO all-pairs path exists — everything is a
  * narrow explode + equi-join or a per-partition fold.
  */
object CorpusOps {

  /** Train↔benchmark n-gram contamination: every (train doc, bench doc)
    * pair sharing at least one word n-gram, with the shared-gram count —
    * the standard eval-decontamination check run before training.
    *
    * Shape: both sides explode to narrow (ngram, id) rows; the join is an
    * equi-join on the ngram string (hash-shuffled, never broadcast-sized
    * assumptions on the train side). `maxDf` is the hot-gram guardrail:
    * an n-gram present in more than `maxDf` BENCH docs (boilerplate,
    * stop-phrases) is excluded from matching — without it one ubiquitous
    * phrase joins every train doc to every bench doc. Dropped grams are
    * reported by [[contaminationHotGrams]], mirroring Dedup.hotBuckets. */
  def ngramContamination(train: DataFrame, bench: DataFrame, n: Int = 8,
      maxDf: Option[Int] = None, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val tg = train.select(col(idCol).as("train_id"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
    tg.join(cappedBenchGrams(bench, n, maxDf, idCol, textCol), Seq("g"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** The exploded (bench_id, g) gram rows with the `maxDf` hot-gram cap
    * applied — the ONE definition of "which bench grams participate in
    * matching", shared by the batch join, the static gram table, and
    * (via [[contaminationHotGrams]]) the drop accounting, so the three
    * surfaces can never disagree on exemptions. */
  private def cappedBenchGrams(bench: DataFrame, n: Int, maxDf: Option[Int],
      idCol: String, textCol: String): DataFrame = {
    val bg = bench.select(col(idCol).as("bench_id"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
    maxDf match {
      case Some(cap) =>
        val hot = contaminationHotGrams(bench, n, cap, idCol, textCol)
          .select(col("g"))
        bg.join(broadcast(hot), Seq("g"), "left_anti")
      case None => bg
    }
  }

  /** Streaming contamination gate: the stream-static form of
    * [[ngramContamination]] for continuous ingestion — each micro-batch
    * of incoming docs explodes to (gram, doc) rows and inner-joins the
    * STATIC benchmark gram table (a stateless stream-static join; the
    * bench side is planned per batch and broadcast when small). Emits
    * one row per (doc, matched gram); downstream dedups or aggregates
    * per its own policy. Works identically on a batch DataFrame. */
  def contaminationMatches(docs: DataFrame, benchGrams: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .join(benchGrams.select(col("g")), Seq("g"))
      .select(col("doc_id"), col("g"))

  /** Doc-LEVEL contamination gate: drop any document sharing at least
    * one word n-gram with the benchmark set, given as a driver-side
    * literal. Benchmark suites are tiny relative to the corpus (that's
    * what makes decontamination tractable), so the gram set ships as a
    * broadcast literal and the gate is a pure per-row predicate — no
    * join at all, which makes it legal in ANY streaming position
    * (an exploded gram join needs doc-level regrouping, and the
    * admit-side anti-join against matched ids would be a stream-stream
    * join Structured Streaming can't do in append mode).
    * [[contaminationMatches]] remains the accounting view (WHICH grams
    * matched); this is the admission filter. */
  def contaminationGate(docs: DataFrame, benchGrams: Seq[String], n: Int = 8,
      textCol: String = "text"): DataFrame =
    docs.filter(!arrays_overlap(
      TextFunctions.wordShingles(col(textCol), n),
      typedLit(benchGrams)))

  /** The static gram table for [[contaminationMatches]]: distinct
    * benchmark n-grams, optionally df-capped like the batch path. */
  def benchGramTable(bench: DataFrame, n: Int = 8, maxDf: Option[Int] = None,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    cappedBenchGrams(bench, n, maxDf, idCol, textCol)
      .select(col("g")).distinct()

  /** Accounting for the decontamination guardrail: benchmark n-grams a
    * given cap would exclude, with their bench document frequencies. */
  def contaminationHotGrams(bench: DataFrame, n: Int, cap: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bench.select(col(idCol).as("bench_id"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)

  /** Serialized Bloom filter over the (df-capped) benchmark gram set,
    * keyed on xxhash64 of the gram — the prefilter constant for
    * [[bloomContamination]]. Built with Spark's distributed
    * `stat.bloomFilter` aggregation and collected to the driver: the
    * benchmark side is tiny BY DESIGN (that is the decontamination
    * premise), so like the LSH sign matrix this is a plan-time constant,
    * a few hundred KB at fpp=0.03 for a million grams. */
  def benchGramBloomBytes(bench: DataFrame, n: Int = 8,
      maxDf: Option[Int] = None, fpp: Double = 0.03,
      idCol: String = "doc_id", textCol: String = "text"): Array[Byte] = {
    val hashed = cappedBenchGrams(bench, n, maxDf, idCol, textCol)
      .select(xxhash64(col("g")).as("h")).distinct()
    // expectedNumItems needs a real count; one narrow pass over the tiny
    // bench side, same class of plan-time action as Similarity.dimsOf.
    val items = math.max(hashed.count(), 1L)
    val bloom = hashed.stat.bloomFilter("h", items, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** One-pass n-token window hashes (no gram strings) — see
    * [[graft.functions.TokenWindowHashExpr]]. The corpus-side probe for
    * [[benchWindowBloomBytes]]. */
  def tokenWindowHashes(text: Column, n: Int): Column =
    graft.functions.TokenWindowHashExpr.of(text, n)

  /** The single window hash of a gram STRING — the bench-side twin of
    * [[tokenWindowHashes]] (an n-token gram is one window; an under-n
    * single-gram-convention gram folds whole, exactly like the short
    * docs it can match; concat_ws(" ") token separation hashes
    * identically through the kernel). */
  def gramWindowHash(gram: Column, n: Int): Column =
    element_at(tokenWindowHashes(gram, n), 1)

  /** Serialized Bloom filter over the WINDOW HASHES of a (df-capped)
    * bench gram table — the probe constant for the string-free
    * admission path. Built from the exact capped gram STRINGS (tiny
    * side) through the same kernel the corpus probe runs, so candidate
    * generation has no false negatives — the property the exact
    * confirm join relies on. */
  def benchWindowBloomBytes(benchGrams: DataFrame, n: Int,
      fpp: Double = 0.03): Array[Byte] = {
    val hashed = benchGrams.select(gramWindowHash(col("g"), n).as("h"))
      .filter(col("h").isNotNull).distinct()
    val items = hashed.count()
    val bloom =
      if (items == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else hashed.stat.bloomFilter("h", items, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** [[bloomMightContain]] for an already-LONG key (window hashes):
    * probes the filter's long-insertion path directly, matching
    * `stat.bloomFilter` over a long column. */
  def bloomMightContainLong(bloomBytes: Array[Byte], h: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      Bridge.expression(h)))
  }

  /** Membership predicate against a serialized gram Bloom filter —
    * Spark's own codegen'd `BloomFilterMightContain` over `xxhash64(g)`,
    * the exact expression Catalyst's runtime-filter injection plants on
    * shuffle-join probe sides. No UDF; the filter deserializes once per
    * task from the literal. */
  def bloomMightContain(bloomBytes: Array[Byte], g: Column): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.column(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      Bridge.expression(xxhash64(g))))
  }

  /** Bloom-prefiltered benchmark decontamination — identical OUTPUT to
    * [[ngramContamination]] (the confirm join removes Bloom false
    * positives; false negatives are impossible), different SCALE shape:
    * the corpus side's exploded grams pass a broadcast-sized Bloom
    * predicate BEFORE the equi-join, so only candidate grams — the
    * contaminated fraction plus fpp of the corpus — ever shuffle. At
    * 100 TB this is the difference between shuffling every corpus gram
    * and shuffling a few percent of them; the plain join form shuffles
    * the full corpus side no matter how clean it is. */
  def bloomContamination(train: DataFrame, bench: DataFrame, n: Int = 8,
      maxDf: Option[Int] = None, fpp: Double = 0.03,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the prefilter runs DOC-level on the one-pass window-hash kernel —
    // the corpus side materializes NO gram strings at all until a doc
    // is a candidate; only the candidate sliver explodes into the exact
    // confirm join (which removes bloom false positives; false
    // negatives are impossible — same kernel keys both sides)
    val grams = Materialize.detached(
      cappedBenchGrams(bench, n, maxDf, idCol, textCol))
    val bloomBytes = benchWindowBloomBytes(grams.select(col("g")).distinct(), n, fpp)
    val candidates = train.filter(exists(tokenWindowHashes(col(textCol), n),
      h => bloomMightContainLong(bloomBytes, h)))
    candidates.select(col(idCol).as("train_id"),
      explode(array_distinct(TextFunctions.wordShingles(col(textCol), n))).as("g"))
      .join(grams, Seq("g"))
      .groupBy(col("train_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Doc-level Bloom admission gate: drop any document at least one of
    * whose n-grams MIGHT be in the benchmark filter. Like
    * [[contaminationGate]] this is a pure per-row predicate (legal in any
    * streaming position — no join, no regrouping), but the broadcast
    * payload is the fixed-size filter from [[benchGramBloomBytes]] /
    * [[graft.sources.BloomStore]] instead of a literal gram list that
    * grows with the benchmark suite.
    *
    * Semantics: CONSERVATIVE. False negatives are impossible (every truly
    * contaminated doc is dropped); false positives drop clean docs at
    * ~fpp per gram-lookup worst case — the standard trade for a
    * decontamination admission filter, where dropping a few clean docs
    * is free and admitting a contaminated one is not. Batch pipelines
    * that cannot afford the FP loss should confirm with
    * [[bloomContamination]] (prefilter + exact join) instead. */
  def bloomContaminationGate(docs: DataFrame, bloomBytes: Array[Byte],
      n: Int = 8, textCol: String = "text"): DataFrame =
    docs.filter(!exists(TextFunctions.wordShingles(col(textCol), n),
      g => bloomMightContain(bloomBytes, g)))

  /** Chunk-level exact dedup (paragraph dedup adapted to token-window
    * chunks, RefinedWeb-style): across the whole corpus, each distinct
    * chunk fingerprint keeps its FIRST occurrence in (doc_id, chunk_idx)
    * order; every other occurrence is a duplicate chunk. Emits per-doc
    * retention accounting — the signal used to rewrite or drop
    * boilerplate-heavy documents.
    *
    * Shape: chunks travel as 32-byte fingerprints (never text); ONE
    * hash-shuffle by fingerprint ranks occurrences (the per-fingerprint
    * sort is bounded by that chunk's duplication count), then a doc-keyed
    * aggregation. No join, no all-pairs path. */
  def chunkDedup(docs: DataFrame, size: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val chunks = chunkTokens(docs, size, stride, idCol, textCol)
    val w = Window.partitionBy(col("chunk_fp"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    chunks.withColumn("kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_chunks"),
        sum(when(col("kept"), col("n_chunk_tokens").cast("long"))
          .otherwise(0L)).as("n_kept_tokens"))
  }

  /** Stable train/val/test assignment from the document id: FNV-1a64 of
    * the id string, taken to an UNSIGNED bucket in [0, 10000) exactly as
    * the feature-flag rollout does (2^64 mod 10000 = 1616 congruence
    * shift). The split never changes when the corpus grows — the property
    * random sampling lacks and every held-out split needs. Default cut:
    * [0,500) test, [500,1000) val, rest train (5/5/90). */
  def splitBucket(id: Column): Column = {
    val h = graft.functions.HashExpressions.fnv1a64(id.cast("string"))
    pmod(pmod(h, lit(10000L)) + when(h < 0, lit(1616L)).otherwise(lit(0L)),
      lit(10000L))
  }

  /** Leakage-safe train/val/test split: bucket on the near-dup COMPONENT
    * canonical id, not the document id, so every member of a duplicate
    * cluster lands in the same split — the guard against the classic
    * eval leak where a near-copy of a test doc sits in train. Input is
    * the (id, comp) frame from [[Dedup.connectedComponents]] (singletons
    * have comp = id, so unclustered docs split exactly like [[hashSplit]]
    * on their component id). Same FNV-1a64 permille arithmetic as
    * [[splitBucket]]; narrow projection, no shuffle beyond the component
    * computation itself. */
  def leakageSafeSplit(components: DataFrame, idCol: String = "id",
      compCol: String = "comp", testPermille: Int = 500,
      valPermille: Int = 500): DataFrame = {
    val b = splitBucket(col(compCol))
    components.withColumn("bucket", b)
      .withColumn("split",
        when(col("bucket") < testPermille, "test")
          .when(col("bucket") < testPermille + valPermille, "val")
          .otherwise("train"))
  }

  def hashSplit(df: DataFrame, idCol: String = "doc_id",
      testPermille: Int = 500, valPermille: Int = 500): DataFrame = {
    val b = splitBucket(col(idCol))
    df.withColumn("split",
      when(b < testPermille, "test")
        .when(b < testPermille + valPermille, "val")
        .otherwise("train"))
  }

  /** Top-k terms per document by TF-IDF. The idf factor is the INTEGER
    * proxy `idf_milli = (N * 1000) div df` — exact in any engine, totally
    * ordered like log(N/df) is (both decrease monotonically in df), and
    * free of the cross-engine last-ulp risk of ln(). Score = tf *
    * idf_milli; ties break by term ascending.
    *
    * Shape: one explode to (doc, term) + two hash aggregations (term
    * counts per doc; document frequency per term) + a window over the
    * per-doc term lists. The df table joins back on term — shuffled
    * equi-join, no broadcast assumption (vocabulary can be huge). */
  def tfIdfTopK(docs: DataFrame, k: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val terms = docs.select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(col(textCol))).as("term"))
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = terms.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(col(idCol)).distinct().count()
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term"))
      // integer div, not floor(double /): past 2^53 the double quotient
      // loses integer exactness and can land one off vs the oracle's `//`
      .withColumn("idf_milli", expr(s"${nDocs * 1000L}L div df"))
      .withColumn("score", col("tf") * col("idf_milli"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** Repetition-based quality signals (the Gopher-rule family): token
    * repetition ratio (1 - distinct/total) and the fraction of all
    * word-2-grams taken by the single most frequent one. High values mark
    * boilerplate/spam. Each ratio is ONE division of exact integers —
    * no cross-row float accumulation, so values are engine-exact.
    *
    * One-pass per-document kernel ([[graft.functions.RepetitionStatsExpr]]):
    * tokenize + distinct + gram counts in a single traversal, no explode,
    * no shuffle, no second scan. The test-scope
    * `CorpusOpsWitness.repetitionSignalsDeclarative` keeps the
    * explode→count→max formulation as the parity witness (measured
    * 12.4 s → sub-second at sf0.1). */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      graft.functions.RepetitionStatsExpr.of(col(textCol)).as("_rs"))
      .select(col("doc_id"),
        col("_rs.n_tokens").as("n_tokens"),
        col("_rs.n_distinct").as("n_distinct"),
        when(col("_rs.n_tokens") > 0,
          lit(1.0) - col("_rs.n_distinct").cast("double")
            / col("_rs.n_tokens").cast("double"))
          .otherwise(0.0).as("rep_ratio"),
        when(col("_rs.n_grams") > 0,
          col("_rs.top_n").cast("double") / col("_rs.n_grams").cast("double"))
          .otherwise(0.0).as("top2gram_frac"))

  /** Banded redundancy histogram — the SQL-expressible companion of the
    * deflate compression signal ([[graft.functions.CompressionRatioExpr]],
    * q88): token repetition permille and distinct-2-gram redundancy
    * permille per doc, rolled up into permille-decile bands. Same
    * quality-signal intent (boilerplate/near-repeat detection for corpus
    * filtering) with exact integer arithmetic both engines reproduce, so
    * the compression-quality component keeps a hash-green oracle row
    * next to the rows-only deflate kernel. One corpus scan: the token
    * stats ride the RepetitionStats kernel, the gram columns one shingle
    * projection; the roll-up is a map-side-combinable aggregation on a
    * 11-value key. */
  def redundancyBands(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    // two-step projection: the kernel evaluates once per row; ALL four
    // counts come out of its single traversal (materializing the 2-gram
    // array just to size/distinct it measured 3.6 s at sf0.1 — the
    // kernel's gram map already knows both numbers)
    docs.select(col(idCol).as("doc_id"),
        graft.functions.RepetitionStatsExpr.of(col(textCol)).as("_rs"))
      .select(col("doc_id"),
        col("_rs.n_tokens").cast("long").as("_nt"),
        col("_rs.n_distinct").cast("long").as("_nd"),
        col("_rs.n_grams").cast("long").as("_ng"),
        col("_rs.n_distinct_grams").cast("long").as("_ndg"))
      .select(col("doc_id"),
        when(col("_nt") > 0, expr("1000L - (_nd * 1000L) div _nt"))
          .otherwise(lit(0L)).as("rep_permille"),
        when(col("_ng") > 0, expr("1000L - (_ndg * 1000L) div _ng"))
          .otherwise(lit(0L)).as("gram_permille"))
      .groupBy(expr("rep_permille div 100").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("rep_permille")).as("min_rep"),
        max(col("rep_permille")).as("max_rep"),
        sum(col("gram_permille")).as("sum_gram_permille"))

  /** PII scrubbing: redact email addresses and phone-shaped digit runs.
    * Patterns restricted to syntax with identical semantics in Java regex
    * and RE2 (no backrefs/lookarounds), so the oracle can reproduce the
    * scrub byte-for-byte. A narrow per-row transform — scrubbing 100 TB
    * is a map-only job. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+?[0-9][0-9 -]{7,}[0-9]"

  def scrubPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "[EMAIL]"), PhoneRe, "[PHONE]")

  def piiCounts(text: Column): (Column, Column) =
    (regexp_count(text, lit(EmailRe)), regexp_count(text, lit(PhoneRe)))

  /** Deterministic corpus mixing: down-sample each source to a target
    * rate (permille) using the same FNV split buckets — the data-mixing
    * step that rebalances source proportions before training. A doc is
    * kept iff its stable bucket falls under its source's rate, so mixes
    * are reproducible, composable with [[hashSplit]] (same hash → a doc's
    * split and its mix survival agree across runs), and growth-stable.
    * Unknown sources fall back to `defaultPermille`. Pure per-row
    * predicate — no shuffle, no sampling RNG. */
  def mixSources(df: DataFrame, ratesPermille: Map[String, Int],
      defaultPermille: Int = 1000, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val rate = ratesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (src, p)) => when(col(sourceCol) === src, lit(p)).otherwise(acc)
    }
    // splitBucket is [0, 10000); permille rates compare against bucket/10
    df.filter(splitBucket(col(idCol)) < rate * 10)
  }

  /** Temperature-balanced source mixing (T = 0.5), the re-weighting a
    * multi-source training mix applies so giant crawl sources stop
    * drowning curated ones: target share per source ∝ √n_s instead of
    * n_s. All arithmetic is INTEGER-exact so the mix is reproducible in
    * any engine: weight w_s = ⌊√n_s⌋, and the sampling rate normalizes
    * the SMALLEST source to full rate —
    * rate_s = min(1000, ⌊1000·w_s·n_p / (n_s·w_p)⌋) with pivot p the
    * min-count source (ties by source name). Sampling itself is the
    * stable FNV permille bucket ([[splitBucket]]), so membership never
    * changes across runs, engines, or corpus growth. Returns the
    * per-source report (n_total, weight, rate_permille, n_kept) — the
    * sampled corpus is a `splitBucket(id) < rate·10` filter away, same
    * as [[mixSources]]. Products stay within BIGINT for n_s up to ~1e12
    * per source (1000·w·n ≤ 1e21 overflows first at n ≈ 1e12; salt the
    * formula with a common divisor if a source ever exceeds that). */
  def temperatureMixReport(docs: DataFrame, sourceCol: String = "source",
      idCol: String = "doc_id"): DataFrame = {
    val tot = docs.groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_total"))
      .withColumn("weight", floor(sqrt(col("n_total"))).cast("long"))
    val pivot = tot.orderBy(col("n_total").asc, col("source").asc).limit(1)
      .select(col("n_total").as("n_p"), col("weight").as("w_p"))
    val rates = tot.crossJoin(broadcast(pivot))
      .withColumn("rate_permille",
        least(lit(1000L), expr("1000 * weight * n_p div (n_total * w_p)")))
      .select(col("source"), col("n_total"), col("weight"), col("rate_permille"))
    val kept = docs.select(col(sourceCol).as("source"), col(idCol).as("id"))
      .join(broadcast(rates.select(col("source"), col("rate_permille"))), "source")
      .filter(splitBucket(col("id")) < col("rate_permille") * 10)
      .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_total"), col("weight"),
        col("rate_permille"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }

  /** Overlapping token-window chunking: split each document into chunks
    * of `size` tokens starting at multiples of `stride` (the standard
    * chunk→embed→pool front half; [[Embeddings.meanPool]] is the back
    * half). Pure per-row explode — a narrow map, no shuffle. Zero-token
    * docs produce no chunks. Emits (doc_id, chunk_idx, n_chunk_tokens,
    * chunk_fp) with the fingerprint standing in for the chunk text so
    * downstream compare/joins move 32 bytes, not kilobytes. */
  def chunkTokens(docs: DataFrame, size: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stride > 0 && size > 0, "size and stride must be positive")
    // tokenize once into an attribute — a lambda over the raw
    // tokens(text) subtree re-splits per chunk (see shinglesFromTokens)
    val ts = col("__chunk_ts")
    val n = org.apache.spark.sql.functions.size(ts)
    val chunks = when(n > 0,
      transform(sequence(lit(0), floor((n - 1) / stride).cast("int")),
        i => slice(ts, i * stride + 1, lit(size))))
      .otherwise(array())
    docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("__chunk_ts"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        org.apache.spark.sql.functions.size(col("c")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c"))).as("chunk_fp"))
  }

  /** Per-group token-length distribution: count, min, max, and
    * rank-defined median / p90 (value at row_number ceil(n/2) resp.
    * ceil(0.9·n) ordered by (length, id)) — integer rank selection, no
    * interpolation, so any engine agrees exactly. One window per group
    * (strata = corpus facets) + one aggregation. */
  def lengthQuantiles(docs: DataFrame, groupCol: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val withLen = docs.select(col(groupCol).as("g"), col(idCol).as("id"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("len"))
    val w = Window.partitionBy(col("g")).orderBy(col("len").asc, col("id").asc)
    val ranked = withLen.withColumn("rn", row_number().over(w).cast("long"))
    val counts = withLen.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("len")).as("min_len"), max(col("len")).as("max_len"))
      // ceil(n/2) and ceil(9n/10) via exact integer division
      .withColumn("med_rn", expr("(n_docs + 1) div 2"))
      .withColumn("p90_rn", expr("(9 * n_docs + 9) div 10"))
    ranked.join(broadcast(counts), Seq("g"))
      .groupBy(col("g"), col("n_docs"), col("min_len"), col("max_len"))
      .agg(max(when(col("rn") === col("med_rn"), col("len"))).as("median_len"),
        max(when(col("rn") === col("p90_rn"), col("len"))).as("p90_len"))
      .select(col("g"), col("n_docs"), col("min_len"), col("median_len"),
        col("p90_len"), col("max_len"))
  }

  /** Approximate per-group token-length quantiles — the 100 TB form of
    * [[lengthQuantiles]]. The exact form ranks every row inside its group
    * (a full per-group sort: one giant shuffle whose partition sizes are
    * the strata sizes); this form runs `percentile_approx` — Spark's
    * Greenwald-Khanna sketch — which is map-side combinable, needs no
    * sort, and bounds memory at O(accuracy·log n) per group regardless of
    * corpus size. The GK contract: a returned value's true rank is within
    * n/accuracy of the target rank. CorpusOpsSpec pins that contract
    * against the exact operator; the trade is the standard one — pay an
    * ε rank error to turn a sort into a sketch. */
  def lengthQuantilesApprox(docs: DataFrame, groupCol: String,
      accuracy: Int = 1000, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(groupCol).as("g"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("len"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("len")).as("min_len"),
        percentile_approx(col("len"), lit(0.5), lit(accuracy)).as("median_len"),
        percentile_approx(col("len"), lit(0.9), lit(accuracy)).as("p90_len"),
        max(col("len")).as("max_len"))

  /** The GK rank-error contract of [[lengthQuantilesApprox]] as a
    * verdict row — the q114/q115/q117 sketch-contract pattern applied to
    * quantiles. Per group: the exact n/min/max plus two booleans
    * asserting the sketch's median and p90 estimates each have a true
    * rank within ±max(1, ⌈n/accuracy⌉) of the target rank ⌈p·n⌉. The
    * sketch ESTIMATES stay out of the result (DuckDB's approx_quantile
    * is t-digest — a different sketch with different valid answers), so
    * an oracle computing the exact columns and literal TRUE hash-checks
    * the contract without replicating GK.
    *
    * Two passes over the narrow (group, len) projection: one for the
    * sketch + exact extrema, one for the estimates' true rank bounds
    * (count of rows strictly below / at-or-below each estimate — an
    * estimate is a real data element, so its rank is an interval). The
    * per-group estimate table is tiny and broadcasts. */
  def lengthQuantilesApproxChecked(docs: DataFrame, groupCol: String,
      accuracy: Int = 1000, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val lens = docs.select(col(groupCol).as("g"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("len"))
    val est = lens.groupBy(col("g"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("len")).as("min_len"),
        max(col("len")).as("max_len"),
        percentile_approx(col("len"), lit(0.5), lit(accuracy))
          .cast("long").as("_med"),
        percentile_approx(col("len"), lit(0.9), lit(accuracy))
          .cast("long").as("_p90"))
    val ranks = lens
      .join(broadcast(est.select(col("g"), col("_med"), col("_p90"))), "g")
      .groupBy(col("g"))
      .agg(sum(when(col("len") < col("_med"), 1L).otherwise(0L)).as("lt_med"),
        sum(when(col("len") <= col("_med"), 1L).otherwise(0L)).as("le_med"),
        sum(when(col("len") < col("_p90"), 1L).otherwise(0L)).as("lt_p90"),
        sum(when(col("len") <= col("_p90"), 1L).otherwise(0L)).as("le_p90"))
    // integer-exact: target = ceil(p·n), err = max(1, ceil(n/accuracy));
    // ok ⇔ the estimate's true-rank interval [lt+1, le] intersects
    // [target − err, target + err]
    val err = greatest(lit(1L),
      expr(s"(n_docs + ${accuracy - 1}) div $accuracy"))
    def ok(target: Column, lt: Column, le: Column): Column =
      (lt + 1L <= target + err) && (le >= target - err)
    est.join(ranks, "g")
      .select(col("g"), col("n_docs"), col("min_len"), col("max_len"),
        ok(expr("(n_docs + 1) div 2"), col("lt_med"), col("le_med"))
          .as("gk_median_ok"),
        ok(expr("(9 * n_docs + 9) div 10"), col("lt_p90"), col("le_p90"))
          .as("gk_p90_ok"))
  }

  /** Chunk-level dedup with document REWRITE: [[chunkDedup]]'s keep rule
    * (first corpus-wide occurrence of each chunk fingerprint survives),
    * but emitting the deduplicated text — each doc reassembled from its
    * surviving chunks in order — plus the retention counts. This is the
    * production form of paragraph dedup: the corpus that continues down
    * the pipeline, not just the accounting.
    *
    * Chunks must tile (stride >= size): overlapping chunks share tokens
    * and cannot be reassembled without double-writing them. A doc whose
    * every chunk was seen earlier rewrites to the empty string (kept so
    * the caller's drop policy, not this operator, decides its fate).
    * Whitespace inside a chunk is normalized to single spaces by the
    * token round-trip — same convention as the fingerprint itself.
    *
    * Scale shape: unlike [[chunkDedup]] the chunk TEXT travels through
    * the fingerprint shuffle (it must — the output is text); the rows
    * stay chunk-sized, the window per fingerprint is bounded by that
    * chunk's duplication count, and the doc-side reassembly groups by
    * doc_id with a sort_array over O(chunks-per-doc) structs. */
  def chunkDedupRewrite(docs: DataFrame, size: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(stride >= size, "rewrite needs tiling (non-overlapping) chunks")
    require(size > 0, "size must be positive")
    // tokenize once into an attribute — a lambda over the raw
    // tokens(text) subtree re-splits per chunk (see shinglesFromTokens)
    val ts = col("__chunk_ts")
    val n = org.apache.spark.sql.functions.size(ts)
    val chunks = when(n > 0,
      transform(sequence(lit(0), floor((n - 1) / stride).cast("int")),
        i => slice(ts, i * stride + 1, lit(size))))
      .otherwise(array())
    val exploded = docs
      .select(col(idCol).as("doc_id"),
        TextFunctions.tokens(col(textCol)).as("__chunk_ts"))
      .select(col("doc_id"), posexplode(chunks).as(Seq("chunk_idx", "c")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        concat_ws(" ", col("c")).as("chunk_text"))
      .withColumn("fp", md5(col("chunk_text")))
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
    exploded.withColumn("kept", row_number().over(w) === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept_chunks"),
        concat_ws(" ", transform(
          sort_array(collect_list(when(col("kept"),
            struct(col("chunk_idx"), col("chunk_text"))))),
          s => s.getField("chunk_text"))).as("text"))
  }

  /** Robust per-group outlier flagging: median/MAD z-score, the outlier
    * detector that survives the outliers it hunts (mean/stddev move with
    * the anomaly; median and MAD don't). A row is anomalous when
    * |x − median| > z · 1.4826 · MAD (1.4826 scales MAD to σ under
    * normality). Two exact `percentile` aggregations per group — the
    * right tool for corpus strata (languages, sources); at extreme group
    * cardinality swap the medians for the GK quantile path
    * ([[lengthQuantilesApprox]]'s kernel) and keep the same flag rule.
    * All emitted columns are input integers: the float median/MAD stay
    * internal, so the output is engine-exact. */
  def robustOutliers(df: DataFrame, groupCol: String, valueCol: String,
      z: Double = 3.0): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($valueCol, 0.5)").as("_med"))
    val dev = df.join(med, groupCol)
      .withColumn("_dev", abs(col(valueCol) - col("_med")))
    val mad = dev.groupBy(col(groupCol))
      .agg(expr("percentile(_dev, 0.5)").as("_mad"))
    dev.join(mad, groupCol)
      .filter(col("_dev") > lit(z) * lit(1.4826) * col("_mad"))
      .drop("_med", "_dev", "_mad")
  }

  /** Substring-level exact dedup report: for every document, how many of
    * its token positions sit inside a duplicated n-token span — a window
    * of n consecutive tokens that also occurs earlier in the corpus
    * (earlier = smaller (doc_id, pos); the FIRST occurrence stays clean,
    * the keep-one convention of suffix-array substring dedup per
    * "Deduplicating Training Data Makes Language Models Better", Lee et
    * al. 2022). Finer than [[chunkDedup]]: chunk dedup only catches
    * duplication aligned to chunk boundaries; this catches a copied
    * paragraph at ANY offset.
    *
    * Shape, 100 TB honest:
    *   1. one pass emits the NARROW (fp, doc_id, pos) stream — md5 of
    *      each n-token window, one hash per position (same budget the
    *      MinHash shingle pass already pays); text never shuffles;
    *   2. first occurrence per fp is a map-side-combinable
    *      min(struct(doc_id, pos)) aggregation — NOT a row_number
    *      window, so a boilerplate gram repeated a billion times
    *      combines partially on the map side instead of funneling one
    *      reducer;
    *   3. duplicated positions join back on fp (AQE handles residual
    *      skew), then per-doc interval union via gaps-and-islands: a
    *      position starts a new island iff it clears the running
    *      max(pos + n) of everything before it — windows partitioned by
    *      doc_id, bounded by the doc's own dup positions.
    * Output per doc: n_tokens, n_dup_tokens (union length of duplicated
    * spans), n_dup_spans (merged islands), dup_permille (exact integer
    * div). Docs shorter than n tokens report zero duplication. */
  def duplicatedSpans(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = tokensFrame(docs, idCol, textCol)
    val nTok = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.size(col("ts")).cast("long").as("n_tokens"))
    val perDoc = dupSpanIslands(toks, n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("e") - col("s")).as("n_dup_tokens"))
    nTok.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_tokens") === 0, 0L).otherwise(
          expr("coalesce(n_dup_tokens, CAST(0 AS BIGINT)) * 1000 div n_tokens"))
          .as("dup_permille"))
  }

  private def tokensFrame(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(col(textCol)).as("ts"))

  /** The per-position n-token window fingerprint array of a token-array
    * column: element i = md5 of tokens [i, i+n). Empty for docs shorter
    * than n. Pure per-row expression — shared by the batch span-dedup
    * gram stream and the streaming [[spanGate]] predicate.
    *
    * Built as arrays_zip of the n shifted slices, NOT a
    * transform(sequence) lambda slicing `ts`: a lambda capturing `ts`
    * re-evaluates that whole subtree per WINDOW (no CSE inside
    * higher-order lambdas), and — worse — a select/withColumn hoist of
    * the tokenization does not protect a FILTER consumer, because
    * predicate pushdown re-inlines the alias into the lambda (verified
    * on the optimized plan: the spanGate hoist alone left
    * slice(filter(split(text))) inside the per-window md5). The zip
    * form evaluates `ts` exactly n times per row no matter what the
    * optimizer substitutes into it. */
  private def spanFpArray(ts: Column, n: Int): Column = {
    val len = org.apache.spark.sql.functions.size(ts) - (n - 1)
    val zipped = arrays_zip((1 to n).map(k => slice(ts, lit(k), len)): _*)
    when(org.apache.spark.sql.functions.size(ts) >= n,
      transform(zipped, e =>
        md5(concat_ws(" ", (0 until n).map(j => e.getField(j.toString)): _*))))
      .otherwise(array().cast("array<string>"))
  }

  /** The narrow (doc_id, pos, fp) span-fingerprint stream of a
    * tokenized corpus — one md5 per n-token window position. */
  private def spanGrams(toks: DataFrame, n: Int): DataFrame =
    toks.filter(org.apache.spark.sql.functions.size(col("ts")) >= n)
      .select(col("doc_id"),
        posexplode(spanFpArray(col("ts"), n)).as(Seq("pos", "fp")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("fp"))

  /** Distinct span fingerprints of a corpus — what an ingestion run
    * appends to the persisted span store
    * ([[graft.sources.FingerprintStore]], which stores any (fp) set) so
    * the NEXT batch can span-dedup against everything already admitted
    * without rescanning it. Membership is all incremental span dedup
    * needs: any store hit is by definition a duplicate of an earlier
    * occurrence, so (first doc, pos) provenance stays with the store
    * owner's accounting, not in the hot path. */
  def spanFingerprints(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    spanGrams(tokensFrame(docs, idCol, textCol), n)
      .select(col("fp")).distinct()

  /** Gaps-and-islands interval union of duplicated positions: merge a
    * (doc_id, pos) set into maximal [s, e) spans of n-token windows. A
    * position starts a new island iff it clears the running max(pos+n)
    * of everything before it; windows partitioned per doc, bounded by
    * the doc's own dup positions. */
  private def islandsOf(dups: DataFrame, n: Int): DataFrame = {
    val prevEnd = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    dups
      .withColumn("new_island",
        when(col("pos") > coalesce(max(col("pos") + n).over(prevEnd), lit(-1L)),
          1L).otherwise(0L))
      .withColumn("island", sum(col("new_island")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
          .rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + n).as("e"))
  }

  /** The merged duplicated-span intervals per doc — (doc_id, island, s,
    * e) with [s, e) half-open token positions. Shared core of
    * [[duplicatedSpans]] (report) and [[duplicatedSpansRewrite]]
    * (applied). */
  private def dupSpanIslands(toks: DataFrame, n: Int): DataFrame = {
    require(n > 0, "span length must be positive")
    // detach the gram stream: the firsts aggregation AND the join-back
    // each consume it, and without the cache the tokenize + n-slice-zip
    // + one-md5-per-position pass (the operator's dominant cost) runs
    // twice per execution. Narrow (doc_id, pos, fp) rows — the same
    // corpus-sized-cache trade as similarityJoin's shingle table.
    val grams = Materialize.detached(spanGrams(toks, n))
    val firsts = grams.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val dups = grams.join(firsts, "fp")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    islandsOf(dups, n)
  }

  /** Incremental substring-span dedup: [[duplicatedSpans]] for a NEW
    * batch against the persisted span-fingerprint store — the
    * run-over-run admission shape (q74/q83's story applied to span
    * dedup). A batch position is duplicated iff its window fingerprint
    * is ALREADY IN THE STORE (everything persisted is by definition
    * earlier, so even a batch-first occurrence of a stored span is a
    * dup) or a smaller (doc_id, pos) in the same batch carries the same
    * fingerprint (the within-batch keep-one rule, unchanged). After
    * admission, append [[spanFingerprints]] of the batch to the store
    * for the next run.
    *
    * Scale shape: the store side joins as a NARROW distinct (fp) set —
    * signatures are never recomputed from stored text (there is none);
    * the batch pays one gram pass and the join keys on fp, exactly the
    * [[dupSpanIslands]] shuffle with a left-semi store probe added. */
  def incrementalDuplicatedSpans(newDocs: DataFrame, storeFps: DataFrame,
      n: Int, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n > 0, "span length must be positive")
    val toks = tokensFrame(newDocs, idCol, textCol)
    val nTok = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.size(col("ts")).cast("long").as("n_tokens"))
    // detached for the same reason as dupSpanIslands' gram stream — and
    // one better: THREE consumers here (store probe, firsts aggregation,
    // join-back), so the uncached form pays the per-position md5 pass 3×
    val grams = Materialize.detached(spanGrams(toks, n))
    val storeHits = grams
      .join(storeFps.select(col("fp")).distinct(), Seq("fp"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val firsts = grams.groupBy(col("fp"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val batchDups = grams.join(firsts, "fp")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    val perDoc = islandsOf(
      storeHits.unionByName(batchDups).dropDuplicates("doc_id", "pos"), n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).as("n_dup_tokens"))
    nTok.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        when(col("n_tokens") === 0, 0L).otherwise(
          expr("coalesce(n_dup_tokens, CAST(0 AS BIGINT)) * 1000 div n_tokens"))
          .as("dup_permille"))
  }

  /** Serialized Bloom filter over a persisted span-fingerprint store —
    * the broadcast payload for [[spanGate]]. Unlike the benchmark gram
    * bloom the SOURCE here can be huge (every n-gram of the admitted
    * corpus), which is exactly why the gate ships a fixed-size filter
    * instead of a literal set; fpp trades clean-doc loss for size. */
  def spanStoreBloomBytes(storeFps: DataFrame, fpp: Double = 0.03): Array[Byte] = {
    val hashed = storeFps.select(xxhash64(col("fp")).as("h")).distinct()
    val items = hashed.count()
    // an EMPTY store (first ingestion run) must yield a contains-nothing
    // filter: the distributed aggregation over zero rows returns a
    // bitless filter that NPEs on probe, so build the empty one directly
    val bloom =
      if (items == 0) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else hashed.stat.bloomFilter("h", items, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    bos.toByteArray
  }

  /** Streaming span-gate admission: drop any incoming document one of
    * whose n-token window fingerprints MIGHT be in the persisted span
    * store — the last batch-only dedup operator in streaming admission
    * form. Pure per-row predicate over [[spanFpArray]] + the codegen'd
    * bloom probe ([[bloomMightContain]]): no join, no regrouping, legal
    * in any streaming position, composable with the quality and
    * contamination gates in one pass.
    *
    * Semantics are CONSERVATIVE, same trade as
    * [[bloomContaminationGate]]: false negatives impossible (a doc
    * containing any stored span is always dropped), false positives
    * drop clean docs at ~fpp per window probe. Note the admission grain
    * is the DOCUMENT — a streaming pipeline cannot rewrite spans
    * mid-flight (that needs the batch [[duplicatedSpansRewrite]]); the
    * gate keeps the stream clean and defers surgical rewriting to the
    * next batch compaction. */
  def spanGate(docs: DataFrame, bloomBytes: Array[Byte], n: Int,
      textCol: String = "text"): DataFrame =
    // NOTE a select/withColumn hoist of the tokenization would NOT help
    // here: predicate pushdown re-inlines the alias into the filter
    // lambda. spanFpArray's zip construction is what bounds the
    // tokenization to n evaluations per row (see its doc).
    docs.filter(!exists(spanFpArray(TextFunctions.tokens(col(textCol)), n),
      f => bloomMightContain(bloomBytes, f)))

  /** EXACT admission twin of [[spanGate]]: drop any document one of
    * whose window fingerprints IS in the store — a stream-static
    * left-semi against the fp rows instead of a filter probe. No false
    * positives (clean docs never drop) and no false negatives, at the
    * cost of reading the store per batch; this is the gate for a store
    * grown past its filter geometry, where the saturated bloom's
    * "false positive" rate converges on dropping every document. The
    * batch side is micro-batch-sized, so Spark broadcasts it and
    * streams the store through the semi-join — one store scan, no
    * store shuffle; `FingerprintStore`'s fp-spread layout keeps that
    * scan parallel. Docs shorter than n have no windows and are
    * admitted, same as the bloom path. */
  def spanGateExact(docs: DataFrame, storeFps: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val hit = docs
      .select(col(idCol), TextFunctions.tokens(col(textCol)).as("__ts"))
      .select(col(idCol), explode(spanFpArray(col("__ts"), n)).as("fp"))
      .join(storeFps.select(col("fp")), Seq("fp"), "left_semi")
      .select(col(idCol)).distinct()
    docs.join(hit, Seq(idCol), "left_anti")
  }

  /** Default fixed geometry for the rolling span-gate bloom: ~4.2 M
    * expected items ≈ 3.7 MB at fpp 0.03. Every delta filter of one
    * store must share the geometry or the byte-level OR is undefined —
    * which is also why this is a parameter, not something derived from
    * the delta's item count the way [[spanStoreBloomBytes]] sizes. */
  val DefaultSpanBloomCapacity: Long = 1L << 22

  /** Fixed-geometry Bloom filter over ONE delta's span fingerprints —
    * the per-batch increment of the rolling gate filter. Same insertion
    * hashing as [[spanStoreBloomBytes]] (xxhash64 longs), but geometry
    * comes from `capacity`, NOT the item count, so filters of every
    * delta are mergeable. A store grown past `capacity` total items
    * degrades fpp (saturation), never correctness — the gate stays
    * false-negative-free. */
  def spanDeltaBloomBytes(deltaFps: DataFrame, fpp: Double = 0.03,
      capacity: Long = DefaultSpanBloomCapacity): Array[Byte] =
    spanDeltaBloomBytesCounted(deltaFps, fpp, capacity)._1

  /** [[spanDeltaBloomBytes]] plus the delta's distinct-fp count — the
    * number the `.bloom.n` sidecar persists so [[storedSpanItems]] can
    * answer "how full is this store" from file reads alone. */
  def spanDeltaBloomBytesCounted(deltaFps: DataFrame, fpp: Double = 0.03,
      capacity: Long = DefaultSpanBloomCapacity): (Array[Byte], Long) = {
    val hashed = deltaFps.select(xxhash64(col("fp")).as("h")).distinct()
    val items = hashed.count()
    // an EMPTY delta must yield a contains-nothing filter: the
    // distributed aggregation over zero rows returns a bitless filter
    // that NPEs on probe (same guard as [[spanStoreBloomBytes]])
    val bloom =
      if (items == 0)
        org.apache.spark.util.sketch.BloomFilter.create(capacity, fpp)
      else hashed.stat.bloomFilter("h", capacity, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    (bos.toByteArray, items)
  }

  /** Byte-level union of same-geometry Bloom filters: membership in the
    * OR equals membership in any input (bitwise property of the
    * structure), so the union of per-delta filters covers the whole
    * store without ever reading a fingerprint row. */
  def mergeBloomBytes(parts: Seq[Array[Byte]]): Array[Byte] = {
    require(parts.nonEmpty, "mergeBloomBytes: no filters")
    val first = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(parts.head))
    parts.tail.foreach { p =>
      first.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(p)))
      ()
    }
    val bos = new java.io.ByteArrayOutputStream()
    first.writeTo(bos)
    bos.toByteArray
  }

  /** The rolling gate filter for a span store: OR of the per-delta
    * filters persisted under `storeDir/bloom/`. Per-batch cost is
    * O(#filter files × filter size) — independent of how many
    * fingerprints the store holds, which is what makes the streaming
    * loop viable at corpus scale (the old shape re-scanned and
    * re-aggregated the FULL store every micro-batch; at 10¹¹ stored
    * fps that is both a per-batch full-store pass and a driver filter
    * sized by the store).
    *
    * Bootstrap: a store that already has fingerprints but no filter
    * files (built by batch ingestion before streaming started) gets a
    * ONE-TIME full-store build persisted as `bootstrap.bloom`; every
    * later batch reads filters only. An empty store yields a
    * contains-nothing filter (first-run self-bootstrap).
    *
    * `excludeBatchId` is the REPLAY-SAFETY hook: a re-run of batch N
    * (foreachBatch is at-least-once — the batch's writes can commit
    * while the streaming log doesn't) must gate against everything
    * EXCEPT its own crashed prior write. Including it would suppress
    * the batch's own documents and then overwrite its delta + filter
    * with the empty result — permanent fingerprint loss. Excluding the
    * batch's own filter (and, on the bootstrap path, its own delta)
    * makes the replay reproduce the original admission decisions
    * exactly, which is what makes the overwrite idempotent.
    *
    * The bootstrap filter IS persisted even when an exclusion is
    * active — [[spanGateIngest]] always gates with its own batch id
    * excluded, so a pre-seeded store's very first streaming batch runs
    * this path, and skipping the write would leave the seeded
    * fingerprints out of every later batch's merged filter (batch 1
    * would find only `b0.bloom`, take the files-nonEmpty path, and
    * admit duplicates of the seeded corpus forever — a silent
    * false-negative hole in a gate whose contract is
    * false-negative-free). Persisting under exclusion is safe: the
    * build excludes only the replaying batch's own delta, and that
    * batch rewrites its own `b<id>.bloom` when it commits, so once the
    * batch lands the OR of bootstrap + per-delta filters covers the
    * whole store; until it lands, every replay of that same batch id
    * re-excludes the delta anyway (streaming replays a batch id until
    * its commit succeeds — no other batch runs in between). */
  def rollingSpanBloom(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, fpp: Double = 0.03,
      capacity: Long = DefaultSpanBloomCapacity,
      excludeBatchId: Option[String] = None): Array[Byte] = {
    val bloomDir = s"$storeDir/bloom"
    val files = graft.sources.BloomStore.list(spark, bloomDir)
      .filterNot(f => excludeBatchId.exists(id => f.endsWith(s"/$id.bloom")))
    if (files.nonEmpty)
      mergeBloomBytes(files.map(graft.sources.BloomStore.read(spark, _)))
    else {
      val store = graft.sources.FingerprintStore.load(spark, storeDir,
        excludeDelta = excludeBatchId)
      val (bytes, items) = spanDeltaBloomBytesCounted(store, fpp, capacity)
      if (items > 0) {
        graft.sources.BloomStore.write(spark, bytes,
          s"$bloomDir/bootstrap.bloom")
        writeSpanItemCount(spark, s"$bloomDir/bootstrap.bloom.n", items)
      }
      bytes
    }
  }

  private def writeSpanItemCount(spark: org.apache.spark.sql.SparkSession,
      path: String, n: Long): Unit =
    graft.sources.BloomStore.write(spark,
      n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8), path)

  /** How many distinct span fingerprints the store's filter set covers —
    * the number that decides the gate regime in [[spanGateIngest]]. Read
    * from the `.bloom.n` sidecars each filter writer persists, so the
    * answer costs O(#filter files), never a store scan. Per-delta counts
    * are distinct WITHIN a delta, so cross-delta repeats over-count —
    * the conservative direction (switches to the exact gate early, never
    * late). `excludeBatchId` mirrors [[rollingSpanBloom]]'s replay rule.
    *
    * A store with no sidecars and no filters (pre-seeded by batch
    * ingestion, never streamed) is counted directly from its rows — the
    * same one-time full-store pass its filter bootstrap pays. A store
    * with filters but no sidecars (written before sidecars existed)
    * answers 0, preserving that store's pre-policy bloom-gate behavior. */
  def storedSpanItems(spark: org.apache.spark.sql.SparkSession,
      storeDir: String, excludeBatchId: Option[String] = None): Long = {
    val bloomDir = s"$storeDir/bloom"
    val sidecars = graft.sources.BloomStore.list(spark, bloomDir, ".bloom.n")
      .filterNot(f => excludeBatchId.exists(id => f.endsWith(s"/$id.bloom.n")))
    if (sidecars.nonEmpty)
      sidecars.map(f => new String(graft.sources.BloomStore.read(spark, f),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong).sum
    else if (graft.sources.BloomStore.list(spark, bloomDir).nonEmpty) 0L
    else graft.sources.FingerprintStore.load(spark, storeDir,
      excludeDelta = excludeBatchId).select(col("fp")).distinct().count()
  }

  /** Fold all persisted per-delta filters into one `folded.bloom` so the
    * per-batch load stays O(1) files on long-running streams (one filter
    * lands per micro-batch; a week of 1-minute batches is 10k files).
    * Pure byte-level OR — the store's fingerprint rows are never read.
    * Crash-safe by idempotence: the merged filter writes (tmp + rename)
    * BEFORE the inputs are deleted, and an interrupted delete leaves
    * extra filters whose OR is unchanged. Call from the same maintenance
    * cadence as [[graft.sources.FingerprintStore.compact]], and ONLY on
    * a quiesced stream: folding the newest batch's filter into
    * `folded.bloom` defeats [[rollingSpanBloom]]'s per-batch replay
    * exclusion for that batch. Returns the number of files folded. */
  def compactSpanBlooms(spark: org.apache.spark.sql.SparkSession,
      storeDir: String): Int = {
    val bloomDir = s"$storeDir/bloom"
    val files = graft.sources.BloomStore.list(spark, bloomDir)
    if (files.size <= 1) 0
    else {
      val merged = mergeBloomBytes(
        files.map(graft.sources.BloomStore.read(spark, _)))
      graft.sources.BloomStore.write(spark, merged, s"$bloomDir/folded.bloom")
      // fold the item-count sidecars the same way: their sum is the
      // store total [[storedSpanItems]] reads, and an interrupted
      // delete only OVER-counts (folded + leftover originals), which
      // biases the gate policy toward the exact path — safe
      val counts = graft.sources.BloomStore.list(spark, bloomDir, ".bloom.n")
      if (counts.nonEmpty) {
        val total = counts.map(f => new String(
          graft.sources.BloomStore.read(spark, f),
          java.nio.charset.StandardCharsets.UTF_8).trim.toLong).sum
        writeSpanItemCount(spark, s"$bloomDir/folded.bloom.n", total)
      }
      val fs = new org.apache.hadoop.fs.Path(bloomDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (files ++ counts)
        .filterNot(f => f.endsWith("/folded.bloom") || f.endsWith("/folded.bloom.n"))
        .foreach { f =>
          fs.delete(new org.apache.hadoop.fs.Path(f), false)
          ()
        }
      files.size
    }
  }

  /** The full streaming span-dedup ingestion loop, as a foreachBatch
    * body: each micro-batch is [[spanGate]]d against the ROLLING bloom
    * ([[rollingSpanBloom]] — the OR of per-delta filters, so per-batch
    * work is O(batch + filters), never a re-scan of the store),
    * survivors go to `sink`, and their span fingerprints append to the
    * store as this batch's delta alongside the delta's own filter —
    * batch N+1 is therefore gated against everything batch N admitted,
    * with no state held in the stream itself (the store IS the state,
    * crash-safe per [[graft.sources.FingerprintStore]]'s commit
    * protocol). Replay safety: foreachBatch is at-least-once, and a
    * replayed batch's own prior delta/filter may already be committed —
    * the gate therefore EXCLUDES the current batchId's artifacts
    * (rollingSpanBloom's `excludeBatchId`), so the replay reproduces
    * the original admission decisions and its overwrite of delta +
    * filter is genuinely idempotent. Without the exclusion a replay
    * self-gates: it admits nothing and overwrites its own delta with
    * the empty set — permanent fingerprint loss. For the same reason,
    * run [[compactSpanBlooms]] only on a quiesced stream: a fold merges
    * the last batch's filter into `folded.bloom`, where a subsequent
    * replay of that batch can no longer exclude it.
    *
    * An EMPTY store admits everything (the bloom contains nothing), so
    * the loop bootstraps itself. Within-batch span dups are not the
    * gate's job (a per-row predicate cannot see sibling rows) — compose
    * [[incrementalDuplicatedSpans]] inside `sink` when micro-batches
    * are large enough to self-duplicate.
    *
    * Saturation boundary: the rolling filter's geometry is fixed at
    * `bloomCapacity` expected items, and for a DROP-policy gate a
    * saturated filter is not a soft degradation — false positives are
    * dropped clean documents, and past a few × capacity the gate
    * converges on rejecting everything. The loop therefore tracks the
    * store's item count in `.bloom.n` sidecars ([[storedSpanItems]],
    * O(filter files) per batch) and, once the count crosses
    * `bloomCapacity`, switches the ADMISSION decision to
    * [[spanGateExact]] — the fp-partitioned stream-static semi-join,
    * which is exact at any store size and pays one parallel store scan
    * per batch (the right trade exactly when the store has outgrown a
    * broadcastable filter; the batch side stays broadcast-sized).
    * Per-delta filters and sidecars are still written in BOTH regimes,
    * so the filter set stays complete (saturated but false-negative-
    * free) for direct [[rollingSpanBloom]] consumers, and replay
    * exclusion keeps working if the stream is rebuilt with a larger
    * geometry.
    *
    * Namespace note: this loop owns the `b<batchId>` delta names. A
    * store pre-seeded by BATCH ingestion should use a different naming
    * scheme for its deltas (dates, run ids) — a pre-existing delta that
    * happens to collide with a streaming batch id would be excluded
    * from that one batch's gate by the replay rule above. */
  def spanGateIngest(storeDir: String, n: Int, fpp: Double = 0.03,
      sink: (DataFrame, Long) => Unit = (_, _) => (),
      bloomCapacity: Long = DefaultSpanBloomCapacity,
      idCol: String = "doc_id")
      (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val exclude = Some(s"b$batchId")
    val stored = storedSpanItems(spark, storeDir, exclude)
    val admittedPlan = if (stored > bloomCapacity) {
        // a never-streamed store entering directly in the exact regime
        // still gets its one-time bootstrap filter, so the filter set
        // stays complete for any direct rollingSpanBloom consumer
        if (graft.sources.BloomStore.list(spark, s"$storeDir/bloom").isEmpty) {
          rollingSpanBloom(spark, storeDir, fpp, bloomCapacity, exclude)
          ()
        }
        spanGateExact(batch, graft.sources.FingerprintStore.load(spark,
          storeDir, excludeDelta = exclude), n, idCol)
      } else
        spanGate(batch, rollingSpanBloom(spark, storeDir, fpp, bloomCapacity,
          excludeBatchId = exclude), n)
    Materialize.scope { m =>
      val admitted = m.keep(admittedPlan)
      sink(admitted, batchId)
      val fps = m.keep(spanFingerprints(admitted, n, idCol))
      graft.sources.FingerprintStore.appendDelta(fps, storeDir, s"b$batchId")
      val (bytes, items) = spanDeltaBloomBytesCounted(fps, fpp, bloomCapacity)
      graft.sources.BloomStore.write(spark, bytes,
        s"$storeDir/bloom/b$batchId.bloom")
      writeSpanItemCount(spark, s"$storeDir/bloom/b$batchId.bloom.n", items)
    }
  }

  /** [[duplicatedSpans]] APPLIED: the corpus that continues down the
    * pipeline, with every duplicated span cut out (keep-one: the first
    * occurrence keeps its text). Token positions inside a merged island
    * are removed; survivors reassemble in order (whitespace normalizes
    * to single spaces, same as every token-level rewrite here).
    *
    * The containment test never runs an interval join: islands are
    * DISJOINT by construction (that is what the merge guarantees), so
    * exploding each island to its positions emits exactly n_dup_tokens
    * narrow rows per doc — no overlap amplification — and removal is a
    * left-anti equi-join on (doc_id, pos). Everything after the fp
    * shuffle keys on doc_id. */
  def duplicatedSpansRewrite(docs: DataFrame, n: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokensFrame(docs, idCol, textCol)
    val nTok = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.size(col("ts")).cast("long").as("n_tokens"))
    val removed = dupSpanIslands(toks, n)
      .select(col("doc_id"),
        explode(sequence(col("s"), col("e") - 1)).as("pos"))
    val positions = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val keptAgg = positions.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("text"))
    // left join from the FULL doc list: an empty doc has no positions,
    // and a fully-duplicated doc has no surviving ones — both must stay
    // in the rewritten corpus as (0, "") rows, not vanish
    nTok.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Positions of n-gram windows that hit the benchmark gram set —
    * the narrow (doc_id, pos) stream feeding the contamination span
    * report/rewrite. Gram strings are built positionally (not distinct:
    * every occurrence matters for interval union) and semi-joined
    * against the (df-capped) bench gram table; only the doc side's
    * gram column shuffles, and only for docs of >= n tokens — sub-n
    * docs are the doc-level gate's domain ([[contaminationGate]] /
    * [[bloomContaminationGate]]), not span surgery's. */
  private def contamPositions(toks: DataFrame, benchGrams: DataFrame,
      n: Int): DataFrame =
    toks.filter(org.apache.spark.sql.functions.size(col("ts")) >= n)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0),
          org.apache.spark.sql.functions.size(col("ts")) - n),
          i => concat_ws(" ", slice(col("ts"), i + 1, lit(n)))))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("g"))
      .join(benchGrams.select(col("g")).distinct(), Seq("g"), "left_semi")
      .select(col("doc_id"), col("pos"))

  /** Contamination SPAN report: per document, how many token positions
    * sit inside an n-gram window shared with the benchmark set, merged
    * into maximal spans — WHERE the leak is, not just that it exists.
    * The positional-attribution member of the decontamination family
    * (pair report [[ngramContamination]], doc gates, bloom forms,
    * [[Similarity.semanticContamination]]); same gaps-and-islands
    * machinery as [[duplicatedSpans]], same output shape. */
  def contaminationSpans(docs: DataFrame, benchGrams: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokensFrame(docs, idCol, textCol)
    val nTok = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.size(col("ts")).cast("long").as("n_tokens"))
    val perDoc = islandsOf(contamPositions(toks, benchGrams, n), n)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bad_spans"),
        sum(col("e") - col("s")).as("n_bad_tokens"))
    nTok.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_bad_tokens"), lit(0L)).as("n_bad_tokens"),
        coalesce(col("n_bad_spans"), lit(0L)).as("n_bad_spans"),
        when(col("n_tokens") === 0, 0L).otherwise(
          expr("coalesce(n_bad_tokens, CAST(0 AS BIGINT)) * 1000 div n_tokens"))
          .as("bad_permille"))
  }

  /** Contamination REWRITE: surgical decontamination — cut every
    * benchmark-shared span out of the document and keep the rest,
    * instead of dropping whole documents (the modern pipeline's choice
    * when a long clean doc embeds one leaked eval item). Same disjoint-
    * island reassembly as [[duplicatedSpansRewrite]]: islands explode
    * to exactly n_bad_tokens narrow rows, removal is a left-anti on
    * (doc_id, pos), survivors rejoin in order. Wholly-contaminated and
    * sub-n docs stay in the output (as empty resp. untouched rows) —
    * the caller's drop policy decides their fate, typically the
    * doc-level gate for the sub-n tail. */
  def contaminationRewrite(docs: DataFrame, benchGrams: DataFrame, n: Int = 8,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = tokensFrame(docs, idCol, textCol)
    val nTok = toks.select(col("doc_id"),
      org.apache.spark.sql.functions.size(col("ts")).cast("long").as("n_tokens"))
    val removed = islandsOf(contamPositions(toks, benchGrams, n), n)
      .select(col("doc_id"),
        explode(sequence(col("s"), col("e") - 1)).as("pos"))
    val positions = toks
      .select(col("doc_id"), posexplode(col("ts")).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val keptAgg = positions.join(removed, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept_tokens"),
        concat_ws(" ", transform(
          sort_array(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("text"))
    nTok.join(keptAgg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"),
        coalesce(col("text"), lit("")).as("text"))
  }

  /** Deterministic stratified sample: the k docs per group with the
    * smallest md5(id) — hash order is uniform but stable, so the sample
    * never changes across runs or engines. The per-group top-k runs as a
    * window over (group, hash); a group is one sort partition, so strata
    * counts bound parallelism — for huge strata swap in the two-phase
    * (approximate-threshold then exact) variant; for corpus strata
    * (languages, sources) this exact form is the right tool. */
  def stratifiedSample(df: DataFrame, groupCol: String, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string")).asc, col(idCol).asc)
    df.withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
  }

  /** Per-source retention cap: keep at most `k` documents per source,
    * the argtop-k by `scoreCol` (ties broken by lowest id) — the
    * per-domain cap a web-corpus curation pass applies so no single
    * site dominates the training mix (the reference has no analog; the
    * policy mirrors published web-corpus pipelines' per-domain limits).
    *
    * Exact and skew-resistant by construction: a plain
    * `row_number() OVER (PARTITION BY source ...)` funnels every row of
    * a hot source through ONE reducer — at 100 TB a single crawl domain
    * can be billions of rows. Instead the top-k runs in two phases on a
    * NARROW (source, id, score) projection (the text never shuffles):
    *   1. rank within (source, salt) where salt = pmod(hash(id), saltBuckets)
    *      — the hot source spreads over `saltBuckets` reducers, and any
    *      global top-k row is necessarily in its salt-group's top-k;
    *   2. re-rank the ≤ k·saltBuckets survivors per source — a window
    *      over a provably tiny frame.
    * Deterministic salt (id-derived, not partition-derived) keeps the
    * operator replayable under task retries. Returns (source, id,
    * score, rank) for the kept docs; join back on id for the text. */
  def sourceCapTopK(docs: DataFrame, k: Int, scoreCol: String,
      idCol: String = "doc_id", sourceCol: String = "source",
      saltBuckets: Int = 16): DataFrame = {
    require(k > 0 && saltBuckets > 0)
    val narrow = docs.select(col(sourceCol).as("source"),
      col(idCol).as("id"), col(scoreCol).as("score"))
    // salt on a HASH of the id, not the id itself: pmod(id, n) is null
    // for non-numeric id columns (string doc ids would silently collapse
    // a hot source into one salt partition); hash() spreads any type and
    // stays deterministic under task retries
    val phase1 = Window.partitionBy(col("source"),
        pmod(hash(col("id")), lit(saltBuckets)))
      .orderBy(col("score").desc, col("id").asc)
    val survivors = narrow.withColumn("_r1", row_number().over(phase1))
      .filter(col("_r1") <= k).drop("_r1")
    val phase2 = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("id").asc)
    survivors.withColumn("rank", row_number().over(phase2))
      .filter(col("rank") <= k)
  }

  /** Per-source quality roll-up: the corpus-health report a mixing/
    * curation step reads — per group (source, typically): doc count,
    * total tokens, and how many docs each quality gate (too short, too
    * repetitive, dominated by one 2-gram) would drop, plus the survivor
    * count and its exact permille. Thresholds are permille integers so
    * every flag is a single exact-integer inequality — `rep > p/1000`
    * becomes `(n_tokens - n_distinct) * 1000 > p * n_tokens` — and the
    * roll-up is engine-exact with zero cross-row float accumulation.
    *
    * Shape: the one-pass [[graft.functions.RepetitionStatsExpr]] kernel
    * per row, then ONE map-side-combinable hash aggregation keyed by the
    * group — at 100 TB this is a full scan plus a shuffle of
    * #groups × #partitions tiny partial rows. */
  def qualityRollup(docs: DataFrame, groupCol: String = "source",
      minTokens: Int = 50, maxRepPermille: Int = 200,
      maxTopGramPermille: Int = 200, textCol: String = "text"): DataFrame =
    qualityRollupCols(docs.select(col(groupCol).as("g"), col(textCol)),
      Seq("g"), minTokens, maxRepPermille, maxTopGramPermille, textCol)

  /** [[qualityRollup]] generalized to arbitrary grouping columns —
    * the windowed/streaming monitor shape: pre-compute an event-time
    * `window(ts, ...)` column and group by (window, source) for a
    * continuously-updated per-source corpus-health dashboard. */
  def qualityRollupCols(docs: DataFrame, groupCols: Seq[String],
      minTokens: Int = 50, maxRepPermille: Int = 200,
      maxTopGramPermille: Int = 200, textCol: String = "text"): DataFrame = {
    val g = groupCols.map(col)
    val per = docs.select(g :+
        graft.functions.RepetitionStatsExpr.of(col(textCol)).as("_rs"): _*)
      .select(g ++ Seq(
        col("_rs.n_tokens").cast("long").as("nt"),
        col("_rs.n_distinct").cast("long").as("nd"),
        col("_rs.n_grams").cast("long").as("ng"),
        col("_rs.top_n").cast("long").as("tn")): _*)
      .withColumn("f_short", col("nt") < minTokens)
      .withColumn("f_rep", col("nt") > 0 &&
        (col("nt") - col("nd")) * 1000L > lit(maxRepPermille.toLong) * col("nt"))
      .withColumn("f_top", col("ng") > 0 &&
        col("tn") * 1000L > lit(maxTopGramPermille.toLong) * col("ng"))
      .withColumn("f_kept", !col("f_short") && !col("f_rep") && !col("f_top"))
    per.groupBy(g: _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("nt")).as("n_tokens_total"),
        sum(col("f_short").cast("long")).as("n_short"),
        sum(col("f_rep").cast("long")).as("n_repetitive"),
        sum(col("f_top").cast("long")).as("n_top2gram"),
        sum(col("f_kept").cast("long")).as("n_kept"))
      .withColumn("kept_permille", expr("(n_kept * 1000) div n_docs"))
  }

  /** Two-phase stratified sample — the huge-strata scale path
    * [[stratifiedSample]]'s docstring promises. Exact top-k-by-hash per
    * stratum makes each stratum ONE sort partition; at 100 TB a
    * billion-doc stratum is a single straggler task. Two phases fix the
    * shape without giving up determinism:
    *
    *  1. per-stratum counts (one map-side-combinable agg), then an exact
    *     integer hash threshold `thr = min(2^32, ceil(2^32·o·k / n_g))`
    *     sized so ~`oversample·k` docs survive;
    *  2. filter rows whose 32-bit md5 prefix falls under their stratum's
    *     broadcast threshold — a narrow map that prunes each stratum to
    *     ~o·k rows — then the SAME (md5, id) window top-k as the exact
    *     form, now sorting per-stratum samples instead of strata.
    *
    * Identical output to [[stratifiedSample]] whenever ≥ k docs survive
    * phase 1 (P[miss] is a Poisson tail ≈ e-9 at oversample=4, k=10; a
    * stratum with n_g ≤ o·k keeps everything, so small strata are always
    * exact). Threshold arithmetic runs in DECIMAL(38,0): `2^32·o·k` can
    * exceed a signed long within the bounds the require() permits (and
    * `+ n_g` pushes further at billion-row strata) — a long would wrap
    * negative and silently keep ZERO rows. The quotient itself is ≤ 2^32,
    * so the `div` result fits a long. Requires oversample·k < 2^31. */
  def stratifiedSampleTwoPhase(df: DataFrame, groupCol: String, k: Int,
      oversample: Int = 4, idCol: String = "doc_id"): DataFrame = {
    require(k > 0 && oversample > 0 && oversample.toLong * k < Int.MaxValue,
      "need 0 < oversample*k < 2^31")
    val HashSpace = 4294967296L // 2^32: md5's first 8 hex chars
    val hx = md5(col(idCol).cast("string"))
    val thresholds = df.groupBy(col(groupCol)).agg(count(lit(1)).as("n_g"))
      .withColumn("thr", least(lit(HashSpace),
        expr(s"(cast($HashSpace as decimal(38,0)) * ${oversample.toLong * k}" +
          s" + n_g - 1) div n_g")))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("_hx").asc, col(idCol).asc)
    df.withColumn("_hx", hx)
      .withColumn("_hv", conv(substring(col("_hx"), 1, 8), 16, 10).cast("long"))
      .join(broadcast(thresholds), Seq(groupCol))
      .filter(col("_hv") < col("thr"))
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("_hx", "_hv", "n_g", "thr")
  }

  /** Token-budget allocation across sources: given a total token budget
    * and per-source target shares (permille), compute what each source
    * must contribute and the sampling rate that gets there — the
    * planning step whose output feeds [[mixSources]]. All arithmetic is
    * exact integer (targets by integer division, rates by ceil-division
    * capped at 1000), so the plan is engine-exact and reproducible.
    * `feasible = false` marks sources whose corpus can't fill their
    * target even at rate 1000 (the under-represented-source alarm).
    * One combinable token-count aggregation — a metadata-sized result
    * at any corpus scale. */
  def tokenBudget(docs: DataFrame, budgetTokens: Long,
      sharesPermille: Map[String, Int], defaultPermille: Int = 0,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    // references the post-aggregation "source" alias, not sourceCol
    val share = sharesPermille.foldLeft(lit(defaultPermille)) {
      case (acc, (src, p)) => when(col("source") === src, lit(p)).otherwise(acc)
    }
    docs.select(col(sourceCol).as("source"),
      TextFunctions.tokenCount(col(textCol)).cast("long").as("nt"))
      .groupBy(col("source"))
      .agg(sum(col("nt")).as("n_tokens"))
      .withColumn("share_permille", share.cast("long"))
      .withColumn("tokens_required",
        expr(s"($budgetTokens * share_permille) div 1000"))
      .withColumn("rate_permille",
        when(col("tokens_required") === 0, 0L)
          .when(col("n_tokens") === 0, 1000L)
          .otherwise(least(lit(1000L),
            expr("(tokens_required * 1000 + n_tokens - 1) div n_tokens"))))
      .withColumn("feasible", col("n_tokens") >= col("tokens_required"))
  }

  /** Deterministic global training order: every doc's position in the
    * md5-shuffled corpus — the "shuffle once, stream forever" ordering a
    * training run reads — WITHOUT a global sort. A naive
    * `row_number() OVER (ORDER BY hash)` collapses 100 TB into one sort
    * partition; instead:
    *
    *  1. bucket = the hash's first `prefixChars` hex chars. Buckets are
    *     contiguous, ORDERED ranges of hash space by construction — the
    *     determinism a sampled RangePartitioner can't give (its
    *     boundaries vary run to run and between plan re-executions);
    *  2. per-bucket counts → cumulative start offsets (a #buckets-row
    *     broadcast — 65k rows at 4 chars);
    *  3. position = bucket offset + intra-bucket `row_number` over
    *     (hash, id) — each bucket an independent ~N/16^p sort partition.
    *
    * Positions are exactly `row_number() OVER (ORDER BY md5(id), id)` —
    * engine-exact, run-stable, and resumable (a reader restarts at any
    * pos). Parallelism = 16^prefixChars. */
  /** `epoch` reshuffles deterministically: the order key becomes
    * md5(id # epoch), so every epoch streams the corpus in a fresh but
    * reproducible permutation — multi-epoch training without re-running
    * a shuffle job per epoch or storing N orderings. */
  def trainingOrder(df: DataFrame, idCol: String = "doc_id",
      prefixChars: Int = 2, epoch: Option[Long] = None): DataFrame = {
    require(prefixChars >= 1 && prefixChars <= 8, "1-8 hex chars")
    val key = epoch match {
      case Some(e) => concat(col(idCol).cast("string"), lit("#"), lit(e.toString))
      case None    => col(idCol).cast("string")
    }
    val hx = md5(key)
    val withB = df.withColumn("_hx", hx)
      .withColumn("_b", substring(col("_hx"), 1, prefixChars))
    val wOff = Window.orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // #buckets rows: the single-partition window here is over ≤16^8 rows
    val offsets = withB.groupBy(col("_b")).agg(count(lit(1)).as("_n"))
      .withColumn("_off", sum(col("_n")).over(wOff) - col("_n"))
      .drop("_n")
    val wIn = Window.partitionBy(col("_b"))
      .orderBy(col("_hx").asc, col(idCol).asc)
    withB.join(broadcast(offsets), Seq("_b"))
      .withColumn("pos", col("_off") + row_number().over(wIn).cast("long"))
      .drop("_b", "_hx", "_off")
  }

  /** Chunked contiguous sequence packing: assign documents to
    * fixed-capacity context windows ("packs") by cumulative token count
    * in id order WITHIN id-range chunks of `chunkSize` docs. Global
    * first-fit packing is inherently sequential; chunking is the parallel
    * shape — each chunk packs independently (one window partition), so
    * 100 TB packs with chunk-count parallelism and only intra-chunk
    * ordering. Packing is concat-and-chop: each doc is assigned to the
    * pack where its FIRST token lands, so a doc may straddle a pack
    * boundary (downstream sequence building splits it across the two
    * windows — the usual LLM packing semantics, not first-fit binning);
    * token counts are clamped to `capacity` so one oversized doc
    * advances at most one full pack. Emits one row per doc: (doc, chunk,
    * pack_id, tokens, cumulative tokens within chunk).
    *
    * `idCol` must be integral — chunk = id div chunkSize. (A string id
    * would cast to null and collapse the corpus into one null chunk,
    * exactly the single-partition sort chunking exists to avoid — so
    * non-integral ids fail fast here. Hash string ids to a long first,
    * e.g. with [[graft.functions.HashExpressions.fnv1a64]].) */
  def packChunked(docs: DataFrame, capacity: Long, chunkSize: Long = 1000L,
      idCol: String = "doc_id", tokensCol: String = "n_tokens"): DataFrame = {
    val idType = docs.schema(idCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(idType.typeName),
      s"packChunked needs an integral $idCol, got $idType")
    val chunked = docs.select(col(idCol).as("doc_id"),
      least(col(tokensCol), lit(capacity)).as("toks"),
      expr(s"$idCol div ${chunkSize}L").as("chunk"))
    val w = Window.partitionBy(col("chunk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // pack boundary: cumulative tokens divide by capacity AFTER the doc
    // is placed — pack_id = (cumsum - toks) div capacity puts each doc
    // in the pack where its first token lands (contiguous fill).
    // Integer div, not floor(double /): past 2^53 cumulative tokens the
    // double quotient can land one pack off — and packSegments computes
    // the same index with div, so the two views must share the math
    chunked.withColumn("cum", sum(col("toks")).over(w))
      .withColumn("pack_in_chunk", expr(s"(cum - toks) div ${capacity}L"))
      .select(col("doc_id"), col("chunk"),
        (col("chunk") * 1000000L + col("pack_in_chunk")).as("pack_id"),
        col("toks"), col("cum"))
  }

  /** Inverted index over document tokens: per term its document
    * frequency and the SORTED posting list of doc ids — the lookup side
    * of search, targeted decontamination, and containment debugging.
    *
    * Boundedness at 100 TB comes from `maxDf`, doing double duty: terms
    * in more than `maxDf` docs (stopwords, markup) are excluded BEFORE
    * list aggregation, so no posting array can exceed `maxDf` entries —
    * the collect is provably bounded, never a hot-key OOM. (Same
    * guardrail family as the LSH bucket cap and the contamination gram
    * cap; excluded terms are exactly the df > maxDf rows of the first
    * aggregate, queryable by the caller.) Shape: one (term, doc)
    * distinct + two hash aggregations, map-side combinable. */
  def invertedIndex(docs: DataFrame, maxDf: Int, idCol: String = "doc_id",
      textCol: String = "text",
      termsOf: Column => Column = c => TextFunctions.tokens(c)): DataFrame = {
    require(maxDf > 0, "maxDf bounds the posting arrays; must be positive")
    // per-doc distinctness is ENFORCED here, not delegated to termsOf:
    // a non-distinct extractor would silently inflate df and duplicate
    // postings. Over an already-distinct kernel (wordShinglesDistinct)
    // the extra array_distinct is one linear pass per doc — measured
    // noise next to the explode it guards (q84's cost was the HOF
    // shingle lambdas, not this)
    val termDocs = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(termsOf(col(textCol)))).as("term"))
    val dfreq = termDocs.groupBy(col("term"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
    termDocs.join(dfreq, Seq("term"))
      .groupBy(col("term"), col("df"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
      .select(col("term"), col("df"), col("postings"))
  }

  /** The chop half of [[packChunked]]: one row per (doc, pack) SEGMENT.
    * packChunked assigns each doc to the pack where its first token
    * lands; a doc whose token span crosses pack boundaries contributes
    * a segment to every pack it touches, with the in-pack offset and
    * length a sequence builder needs to materialize fixed-`capacity`
    * training windows. Integer identity per doc:
    * `sum(seg_len) = toks` and segments tile [cum - toks, cum).
    *
    * Shape: the packChunked window plus one `sequence()` explode whose
    * length is the doc's pack span (≤ 2 for any doc ≤ capacity — the
    * clamp in packChunked guarantees spans stay tiny). */
  def packSegments(docs: DataFrame, capacity: Long, chunkSize: Long = 1000L,
      idCol: String = "doc_id", tokensCol: String = "n_tokens"): DataFrame = {
    val packed = packChunked(docs, capacity, chunkSize, idCol, tokensCol)
      .withColumn("start", col("cum") - col("toks"))
      .withColumn("last_pack",
        when(col("cum") > col("start"),
          expr(s"(cum - 1) div ${capacity}L")).otherwise(expr(s"start div ${capacity}L")))
    packed
      .withColumn("seg_pack",
        explode(sequence(expr(s"start div ${capacity}L"), col("last_pack"))))
      .withColumn("pack_start", col("seg_pack") * capacity)
      .withColumn("seg_offset",
        greatest(col("start"), col("pack_start")) - col("pack_start"))
      .withColumn("seg_len",
        least(col("cum"), col("pack_start") + capacity)
          - greatest(col("start"), col("pack_start")))
      .filter(col("seg_len") > 0)
      .select(col("doc_id"), col("chunk"),
        (col("chunk") * 1000000L + col("seg_pack")).as("pack_id"),
        col("seg_offset"), col("seg_len"))
  }

  /** Snapshot diff: classify every document id across two corpus
    * versions as `added` (only in new), `removed` (only in old),
    * `changed` (both, content fingerprint differs) or `unchanged` — the
    * planning primitive of every incremental pipeline (what to re-embed,
    * re-index, re-dedup after an ingestion run, instead of reprocessing
    * 100 TB because 0.1% moved).
    *
    * ONE full-outer equi-join on id over (id, fp) projections — text
    * never shuffles, content equality rides the 32-byte md5 (same
    * normalized fingerprint as the dedup family; null text gets the
    * dedup sentinel so it classifies rather than null-propagates).
    *
    * Contract: `idCol` is unique WITHIN each snapshot (the corpus
    * invariant every other id-keyed operator here assumes) — a
    * duplicated id would fan out through the join and over-count its
    * classes. Dedup first ([[Dedup.dropExactDuplicates]] or keep-first
    * by id) if the invariant isn't guaranteed upstream. */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val fpOf = (df: DataFrame, fpName: String) => df.select(col(idCol),
      Dedup.storeFingerprint(col(textCol)).as(fpName))
    fpOf(oldDocs, "fp_old").join(fpOf(newDocs, "fp_new"), Seq(idCol), "full_outer")
      .withColumn("status",
        when(col("fp_old").isNull, "added")
          .when(col("fp_new").isNull, "removed")
          .when(col("fp_old") =!= col("fp_new"), "changed")
          .otherwise("unchanged"))
      .select(col(idCol), col("status"))
  }

  /** Ordered quality-filter cascade with per-stage drop accounting —
    * the observability shape every corpus-curation pipeline needs: not
    * just "what survived" but WHERE each document fell out, so a
    * filter-tuning change can be attributed stage by stage.
    *
    * Each `stages` entry is (name, pass-predicate); a document is
    * charged to the FIRST stage whose predicate it fails (stages after
    * the first failure never see it, exactly like a chained
    * `.filter(...)` pipeline). One row out per stage: how many docs
    * entered it, how many it dropped, how many survived, and the drop
    * rate in exact integer permille (null when nothing entered).
    *
    * Scale shape: ONE corpus pass regardless of stage count — the
    * first-fail index is a single when-chain projection (short-circuit
    * in codegen; repeated subexpressions like a shared kernel struct
    * are computed once via subexpression elimination), aggregated by a
    * map-side-combinable count over ≤ stages+1 keys. The cumulative
    * entered/dropped bookkeeping runs on the stages-sized frame, where
    * a single-partition window is free. Contrast the naive N chained
    * count() actions: N full corpus scans. */
  def qualityFunnel(docs: DataFrame, stages: Seq[(String, Column)]): DataFrame = {
    require(stages.nonEmpty, "need at least one stage")
    val spark = docs.sparkSession
    import spark.implicits._
    val firstFail = stages.zipWithIndex.foldRight(lit(-1)) {
      case (((_, pass), i), acc) => when(not(pass), lit(i)).otherwise(acc)
    }
    // detach the (≤ stages+1)-row aggregate: the `total` action below
    // materializes it, and the returned frame reuses the same rows —
    // without this the corpus would be scanned twice (once for total,
    // once when the caller collects), breaking the one-pass claim
    val ffCounts = Materialize.detached(docs.select(firstFail.as("ff"))
      .groupBy(col("ff")).agg(count(lit(1)).as("n")))
    val total = ffCounts.agg(coalesce(sum(col("n")), lit(0L)))
      .head().getLong(0)
    val dim = stages.zipWithIndex.map { case ((name, _), i) => (i, name) }
      .toDF("stage_idx", "stage")
    val w = Window.orderBy(col("stage_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    dim.join(ffCounts, col("stage_idx") === col("ff"), "left")
      .withColumn("dropped", coalesce(col("n"), lit(0L)))
      .withColumn("entered",
        lit(total) - coalesce(sum(col("dropped")).over(w), lit(0L)))
      .withColumn("survived", col("entered") - col("dropped"))
      .withColumn("drop_permille",
        when(col("entered") > 0, expr("(dropped * 1000) div entered")))
      .select(col("stage_idx"), col("stage"), col("entered"),
        col("dropped"), col("survived"), col("drop_permille"))
  }
}
