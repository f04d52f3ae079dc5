package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.functions.TextFunctions

/** Language-model-flavored corpus operators: unigram surprisal quality
  * scoring (the CCNet idea — score documents by how surprising their
  * tokens are under a corpus LM), DSIR-style hashed-n-gram importance
  * weighting (rank documents by how target-domain-like their features
  * are), and BPE tokenizer training/application (Sennrich et al. 2016).
  *
  * Every score is INTEGER-exact so any engine reproduces it bit-for-bit:
  * where the published methods use log-probabilities, these use the
  * floor-log2 bucket `bitLen(x) = length(bin(x)) - 1` — exact integer
  * arithmetic with the same monotonicity as log2, and therefore the same
  * ORDERING of documents, which is all a filter/resample threshold
  * consumes. No floating-point value ever crosses rows.
  *
  * Scale shapes (the 100 TB contract):
  *   - surprisal: one corpus-sized shuffle to (doc, token) partial counts
  *     (map-side combined), a vocab-sized aggregation, then a BROADCAST
  *     join back — the vocabulary is capped at `vocabSize` by
  *     construction, so the probe side never shuffles. OOV tokens take a
  *     fixed worst-case bucket, exactly like a fixed-vocab LM.
  *   - importance: the feature table is hashed into a FIXED number of
  *     buckets (10,000 — the [[CorpusOps.splitBucket]] space), so the
  *     weight table is bounded and broadcast regardless of corpus size.
  *   - BPE training runs its pair-count iterations over the WORD
  *     HISTOGRAM, not the corpus: the corpus-sized work is one token
  *     histogram shuffle, after which each merge iteration is
  *     vocabulary-sized (and the histogram shrinks as merges apply).
  */
object LmOps {

  /** floor(log2(x)) for a positive integral column, computed exactly via
    * the binary string length — no floating point. bin() is bit-identical
    * across Spark and DuckDB, so oracles can re-derive every score. */
  private def bitLen(x: Column): Column = length(bin(x)) - 1

  // ---------------------------------------------------------------------
  // Unigram surprisal quality score (CCNet-style, integer-exact)
  // ---------------------------------------------------------------------

  /** Per-document unigram surprisal score over a capped vocabulary.
    *
    * Model: the corpus's own token counts. A token in the top-`vocabSize`
    * vocabulary (by count desc, token asc — a total order both engines
    * reproduce) scores `floor(log2(N div c))` — its surprisal rounded to
    * the containing power of two (`N` = total token count, `c` = the
    * token's count; `floor(log2(N/c)) == bitLen(N div c)` exactly, since
    * c ≤ N). An out-of-vocabulary token takes the worst-case bucket
    * `bitLen(N)` (a count-1 token's surprisal) — the fixed-vocab LM
    * convention. A document's score is the k-weighted sum over its
    * distinct tokens; `low_quality` flags empty documents and documents
    * whose MEAN surprisal exceeds `threshMilli/1000` bits per token
    * (cross-multiplied, so the comparison is integer-exact).
    *
    * Returns (idCol, n_tokens, total_surprisal, low_quality) — one row
    * per input document, zero-token documents included.
    */
  /** floor(log2(x)) for a positive long, driver-side companion of the
    * Column [[bitLen]]. */
  private def bitLenJvm(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)

  def surprisalScores(docs: DataFrame, vocabSize: Int = 16,
      threshMilli: Long = 8500, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (doc, token) partial counts: the only corpus-sized shuffle, and it
    // map-side combines (distinct tokens per doc, not occurrences).
    // Detached because three consumers read it: the vocab aggregation,
    // the total-count action, and the scoring plan.
    val pd = Materialize.detached(docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col(idCol), col("t")).agg(count(lit(1)).as("k")))
    val cnt = pd.groupBy(col("t")).agg(sum(col("k")).as("c"))
    // Global scalars become DRIVER LITERALS (the tfIdfTopK nDocs
    // convention): the scoring plan then carries no global-aggregate or
    // single-partition barrier at all — N and the capped vocab are
    // plan-time constants, and the vocab side is a broadcast
    // LocalRelation. The actions materialize pd's blocks, and the
    // returned scoring plan reads those SAME blocks instead of re-running
    // the tokenize + (doc, token) shuffle — the corpus-sized pass
    // otherwise ran twice per execution (measured r20: the recompute was
    // the single largest stage of q127/q217/q218).
    val n = math.max(1L,
      Option(pd.agg(sum(col("k"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    val voc = cnt.orderBy(col("c").desc, col("t").asc).limit(vocabSize)
      .collect().map(r => (r.getString(0), bitLenJvm(n / r.getLong(1))))
    val oovSb = bitLenJvm(n)
    val vocDf = voc.toSeq.toDF("t", "sb")
    val scored = pd
      .join(broadcast(vocDf), Seq("t"), "left")
      .withColumn("sbv", coalesce(col("sb"), lit(oovSb)))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * col("sbv")).as("total_surprisal"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("total_surprisal"), lit(0L)).as("total_surprisal"))
      .withColumn("low_quality",
        col("n_tokens") === 0 ||
          col("total_surprisal") * 1000L > lit(threshMilli) * col("n_tokens"))
  }

  /** Bigram surprisal with unigram backoff — the next LM order up from
    * [[surprisalScores]], still integer-exact. The model is capped like
    * a deployed LM: the top-`bigramVocab` bigrams (count desc, gram asc)
    * each score `bitLen(c1(prev) div c2(prev,cur))` — the conditional
    * surprisal of `cur` given `prev`, rounded to the containing power of
    * two — and any OTHER bigram backs off to the [[surprisalScores]]
    * unigram bucket of `cur` plus a 1-bit backoff penalty (the
    * Katz-style discount, integerized). Documents score over their
    * bigram positions (n_tokens − 1; zero/one-token docs get 0).
    *
    * Plan shape mirrors q127: one (doc, bigram) partial-count shuffle,
    * capped tables as driver-built broadcast LocalRelations (bigram
    * rows carry their context counts, collected in ONE action via a
    * join on the unigram table), per-doc re-aggregation. Nothing scales
    * with vocabulary: both model tables are capped by construction. */
  def bigramSurprisalScores(docs: DataFrame, bigramVocab: Int = 64,
      unigramVocab: Int = 16, threshMilli: Long = 8500,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val toks = docs.select(col(idCol),
      TextFunctions.tokens(col(textCol)).as("ts"))
    val pd2Plan = toks
      .select(col(idCol),
        explode(TextFunctions.shinglesFromTokens(col("ts"), 2)).as("g"))
      .filter(size(TextFunctions.tokens(col("g"))) === 2) // drop sub-2-token docs' single-gram rows
      .groupBy(col(idCol), col("g")).agg(count(lit(1)).as("k"))
    val pd2 = Materialize.detached(pd2Plan)
    val c2 = pd2.groupBy(col("g")).agg(sum(col("k")).as("c2"))
    val c1 = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    // the ONE model derivation (shared with trainBigramVocab, so the
    // gate's parity contract cannot drift from the batch scorer's)
    val (bigMap, uniMap, oovSb) =
      bigramModelFromCounts(c2, c1, bigramVocab, unigramVocab)
    val bigDf = bigMap.toSeq.toDF("g", "sb")
    val uniDf = uniMap.toSeq.toDF("cur", "usb")
    val scored = pd2
      .join(broadcast(bigDf), Seq("g"), "left")
      .withColumn("cur", split(col("g"), " ").getItem(1))
      .join(broadcast(uniDf), Seq("cur"), "left")
      .withColumn("sbv",
        coalesce(col("sb"), col("usb"), lit(oovSb)))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * col("sbv")).as("total_surprisal"))
    // pd2 is detached: the scoring plan reads the blocks the model
    // actions materialized instead of re-running the (doc, bigram)
    // explode+shuffle per execution (the r20 surprisalScores fix)
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_surprisal"), lit(0L)).as("total_surprisal"))
      .withColumn("low_quality",
        col("n_bigrams") === 0 ||
          col("total_surprisal") * 1000L > lit(threshMilli) * col("n_bigrams"))
  }

  /** Streaming admission twin of [[surprisalScores]]: drop documents
    * whose mean surprisal under a PRE-TRAINED vocabulary exceeds
    * `threshMilli/1000` bits per token (and empty documents). The vocab
    * ships WITH the plan — the CCNet deployment shape, where the LM is
    * trained offline and the filter runs inline — so the gate is a pure
    * per-row predicate: no join, no aggregation, legal in ANY streaming
    * position (same family as [[CorpusOps.contaminationGate]] and
    * [[CorpusOps.spanGate]]). `vocabSb` maps token → surprisal bucket
    * (what [[surprisalScores]] computes per corpus); `oovSb` is the
    * out-of-vocabulary worst case.
    *
    * The probe is [[graft.functions.VocabSurprisalSumExpr]] — a native
    * expression holding the vocab in an executor-side `HashMap` keyed
    * by `UTF8String`, O(1) per token. (The previous
    * `element_at(typedlit(vocab), t)` fold scanned the literal map per
    * lookup — O(vocab) per token, a throughput cliff at a real
    * 50k-entry vocabulary; LmOpsSpec's 50k-vocab law pins the flat
    * cost.) Batch parity with the q127 flag is pinned by LmOpsSpec. */
  def surprisalGate(docs: DataFrame, vocabSb: Map[String, Long], oovSb: Long,
      threshMilli: Long = 8500, textCol: String = "text"): DataFrame =
    docs
      .withColumn("__gate_ts", TextFunctions.tokens(col(textCol)))
      .withColumn("__gate_total",
        graft.functions.VocabSurprisalSumExpr.of(col("__gate_ts"), vocabSb, oovSb))
      .filter(size(col("__gate_ts")) > 0 &&
        col("__gate_total") * 1000L <=
          lit(threshMilli) * size(col("__gate_ts")))
      .drop("__gate_ts", "__gate_total")

  /** The (bigram → bucket, unigram-backoff → bucket, OOV) triple
    * [[bigramSurprisalGate]] deploys — trained by one batch pass with
    * the exact arithmetic of [[bigramSurprisalScores]] (unigram buckets
    * already carry the 1-bit backoff penalty; OOV is bitLen(N)+1). */
  def trainBigramVocab(docs: DataFrame, bigramVocab: Int = 64,
      unigramVocab: Int = 16, textCol: String = "text")
      : (Map[String, Long], Map[String, Long], Long) = {
    val toks = docs.select(TextFunctions.tokens(col(textCol)).as("ts"))
    val c2 = toks
      .select(explode(TextFunctions.shinglesFromTokens(col("ts"), 2)).as("g"))
      .filter(size(TextFunctions.tokens(col("g"))) === 2)
      .groupBy(col("g")).agg(count(lit(1)).as("c2"))
    val c1 = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    bigramModelFromCounts(c2, c1, bigramVocab, unigramVocab)
  }

  /** Kneser–Ney smoothed bigram model (Kneser & Ney 1995; the Chen &
    * Goodman 1998 interpolated form) with the fixed discount d = 3/4 —
    * the smoothing CCNet-family quality filters actually deploy,
    * beside [[bigramSurprisalScores]]'s raw-conditional buckets. All
    * quantities are EXACT INTEGER RATIONALS, so the oracle recomputes
    * them bit-for-bit:
    *
    *   p(w|v) = (c(vw) − 3/4)/c(v·) + (3/4)·N1+(v·)/c(v·) · N1+(·w)/N
    *          = [ (4·c(vw) − 3)·N + 3·N1+(v·)·N1+(·w) ] / (4·c(v·)·N)
    *
    * where c(v·) = Σ_w c(vw) (the bigram context total — with it the
    * model sums EXACTLY to 1 over the vocabulary), N1+(v·) = distinct
    * continuations of v, N1+(·w) = distinct left contexts of w (the
    * continuation count — KN's defining idea: "how many contexts does
    * w complete" rather than "how often does w occur"), and
    * N = N1+(··) = distinct bigrams. Reported as p_milli =
    * 1000·num div den (DECIMAL(38,0) products — no 64-bit ceiling).
    *
    * One corpus shuffle to the (prev, cur) counts; every aggregate
    * after that is bigram-vocabulary-sized, and the returned frame is
    * the top-`topK` bigrams by (count desc, prev asc, cur asc). */
  def knBigramModel(docs: DataFrame, topK: Int = 64,
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val c2 = docs.select(explode(TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(col(textCol)), 2)).as("g"))
      .filter(size(TextFunctions.tokens(col("g"))) === 2)
      .select(split(col("g"), " ").getItem(0).as("prev"),
        split(col("g"), " ").getItem(1).as("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val ctx = c2.groupBy(col("prev"))
      .agg(sum(col("c2")).as("cv"), count(lit(1)).as("nv"))
    val cont = c2.groupBy(col("cur")).agg(count(lit(1)).as("n1w"))
    val top = c2.orderBy(col("c2").desc, col("prev").asc, col("cur").asc)
      .limit(topK)
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val modelPlan = top.join(ctx, Seq("prev")).join(cont, Seq("cur"))
      .crossJoin(broadcast(c2.agg(count(lit(1)).as("bign"))))
      .withColumn("num",
        (col("c2").cast(dec) * 4 - 3) * col("bign") +
          col("nv").cast(dec) * 3 * col("n1w"))
      .withColumn("den", col("cv").cast(dec) * 4 * col("bign"))
      .select(col("prev"), col("cur"), col("c2"), col("cv"), col("nv"),
        col("n1w"), col("bign"),
        expr("CAST((num * 1000) DIV den AS BIGINT)").as("p_milli"),
        // the q127 discipline: −log2 p rounded to its containing power
        // of two, as bitLen(den div num) — num ≥ N makes the quotient
        // count-sized, BIGINT-safe at any corpus
        bitLen(expr("CAST(den DIV num AS BIGINT)")).cast("long").as("sb"))
    // The model is ≤ topK rows: materialize it in ONE action over the
    // kept counts (four consumers — ctx/cont/top/bign — read c2, so the
    // corpus shuffles once) and return a LocalRelation: a capped model
    // frame has no business re-touching the corpus when a downstream
    // consumer re-executes it.
    val rows = Materialize.scope { s => s.keep(c2); modelPlan.collect() }
    rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8))).toSeq
      .toDF("prev", "cur", "c2", "cv", "nv", "n1w", "bign", "p_milli", "sb")
  }

  /** Per-document mean KN surprisal — the quality filter the q200
    * model exists for, shaped like [[bigramSurprisalScores]]: each doc
    * bigram in the top-`topK` model scores its KN bucket `sb`; any
    * other bigram pays the fixed out-of-model bucket bitLen(N) + 2
    * (pessimistic: below the rarest in-model continuation). Flags docs
    * whose MEAN bucket exceeds threshMilli/1000 bits per bigram, and —
    * like [[surprisalScores]]/[[bigramSurprisalScores]] — docs with NO
    * bigram positions (no signal → flag, the conservative default).
    * Returns (doc_id, n_bigrams, total_surprisal, low_quality); the
    * model is a driver-collected LocalRelation riding a broadcast
    * join — one corpus pass after training.
    *
    * `threshMilli` defaults to the measured SPLITTING value on the
    * documents fixture (10.2 bits/bigram → 332/168 at sf0.01 — the
    * q128 acceptance-knob convention). Like every corpus-statistics
    * knob it is corpus-dependent: re-tune when the token distribution
    * changes materially. */
  def knSurprisalScores(docs: DataFrame, topK: Int = 64,
      threshMilli: Long = 10200L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (knSb, oov) = trainKnVocab(docs, topK, textCol)
    val modelDf = knSb.toSeq.map { case (g, sb) =>
      val sp = g.indexOf(' ')
      (g.substring(0, sp), g.substring(sp + 1), sb)
    }.toDF("prev", "cur", "sb")
    val pd = docs.select(col(idCol),
      explode(TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(col(textCol)), 2)).as("g"))
      .filter(size(TextFunctions.tokens(col("g"))) === 2)
      .select(col(idCol), split(col("g"), " ").getItem(0).as("prev"),
        split(col("g"), " ").getItem(1).as("cur"))
      .groupBy(col(idCol), col("prev"), col("cur"))
      .agg(count(lit(1)).as("k"))
    val scored = pd
      .join(broadcast(modelDf), Seq("prev", "cur"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_bigrams"),
        sum(col("k") * coalesce(col("sb"), lit(oov)))
          .as("total_surprisal"))
    docs.select(col(idCol)).distinct()
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("total_surprisal"), lit(0L)).as("total_surprisal"))
      .withColumn("low_quality",
        col("n_bigrams") === 0L ||
          col("total_surprisal") * 1000L > lit(threshMilli) * col("n_bigrams"))
  }

  /** The capped KN bucket tables for [[knSurprisalGate]]: gram key
    * `prev + " " + cur` → KN bucket `sb`, plus the fixed out-of-model
    * bucket bitLen(N) + 2. One [[knBigramModel]] train; both returns
    * are driver-sized by construction (≤ topK entries + one scalar).
    * An EMPTY corpus has no bigrams anywhere downstream either, so the
    * OOV bucket is never consulted — the smallest legal bucket stands
    * in rather than a head() throw. */
  def trainKnVocab(docs: DataFrame, topK: Int = 64,
      textCol: String = "text"): (Map[String, Long], Long) = {
    val rows = knBigramModel(docs, topK, textCol)
      .select(col("prev"), col("cur"), col("sb"), col("bign")).collect()
    val knSb = rows.map(r =>
      (r.getString(0) + " " + r.getString(1)) -> r.getLong(2)).toMap
    val oov = rows.headOption.map(r => bitLenJvm(r.getLong(3)) + 2L)
      .getOrElse(2L)
    (knSb, oov)
  }

  /** Streaming admission twin of [[knSurprisalScores]] — the KN member
    * of the gate family (unigram [[surprisalGate]], bigram
    * [[bigramSurprisalGate]], NB [[nbGate]]): drop documents whose mean
    * KN bucket under a pre-trained capped model exceeds
    * `threshMilli/1000` bits per bigram, and documents with no bigram
    * positions. The probe REUSES
    * [[graft.functions.BigramSurprisalSumExpr]] with an EMPTY backoff
    * table — KN's out-of-model bucket is the fixed bitLen(N) + 2, which
    * is exactly the expression's `oovSb` arm — so the gate is the same
    * O(1)-per-position executor-side hash probe, a pure per-row
    * predicate legal in any streaming position. Batch parity with the
    * q201 flag is pinned by LmOpsSpec at two fixtures. */
  def knSurprisalGate(docs: DataFrame, knSb: Map[String, Long],
      oovSb: Long, threshMilli: Long = 10200L,
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("__gate_ts", TextFunctions.tokens(col(textCol)))
      .withColumn("__gate_total",
        graft.functions.BigramSurprisalSumExpr.of(col("__gate_ts"),
          knSb, Map.empty[String, Long], oovSb))
      .filter(size(col("__gate_ts")) > 1 &&
        col("__gate_total") * 1000L <=
          lit(threshMilli) * (size(col("__gate_ts")) - 1))
      .drop("__gate_ts", "__gate_total")

  /** The capped bigram model derivation BOTH the batch scorer and the
    * gate trainer use — one implementation so the q133 parity contract
    * is structural, not two-copies-in-sync. `c2` is (g, c2) bigram
    * counts, `c1` is (t, c1) unigram counts; returns (bigram gram →
    * conditional bucket, backoff token → unigram bucket + 1-bit
    * penalty, OOV = bitLen(N) + 1). Three driver actions over the
    * persisted unigram table; everything returned is capped. */
  private def bigramModelFromCounts(c2: DataFrame, c1raw: DataFrame,
      bigramVocab: Int, unigramVocab: Int)
      : (Map[String, Long], Map[String, Long], Long) = Materialize.scope { s =>
    val c1 = s.keep(c1raw)
    // ONE action: top bigrams joined to their context counts
    val bigMap = c2
      .withColumn("prev", split(col("g"), " ").getItem(0))
      .join(c1.withColumnRenamed("t", "prev"), Seq("prev"))
      .orderBy(col("c2").desc, col("g").asc).limit(bigramVocab)
      .select(col("g"), col("c1"), col("c2"))
      .collect().map(r => r.getString(0) ->
        bitLenJvm(r.getLong(1) / r.getLong(2))).toMap
    // unigram backoff buckets: the q127 arithmetic + 1 penalty bit
    val n = math.max(1L,
      Option(c1.agg(sum(col("c1"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    val uniMap = c1.orderBy(col("c1").desc, col("t").asc).limit(unigramVocab)
      .collect().map(r => r.getString(0) -> (bitLenJvm(n / r.getLong(1)) + 1L))
      .toMap
    (bigMap, uniMap, bitLenJvm(n) + 1L)
  }

  /** Streaming admission twin of [[bigramSurprisalScores]] — the
    * order-2 sibling of [[surprisalGate]]: drop documents whose mean
    * BIGRAM surprisal under a pre-trained capped bigram model (with
    * unigram backoff) exceeds `threshMilli/1000` bits per bigram, and
    * documents with no bigram positions. The probe is
    * [[graft.functions.BigramSurprisalSumExpr]] — both model tables in
    * executor-side hash maps, O(1) per position — so the gate stays a
    * pure per-row predicate, legal in any streaming position. Batch
    * parity with the q133 flag is pinned by LmOpsSpec. */
  def bigramSurprisalGate(docs: DataFrame, bigramSb: Map[String, Long],
      uniSb: Map[String, Long], oovSb: Long, threshMilli: Long = 9000,
      textCol: String = "text"): DataFrame =
    docs
      .withColumn("__gate_ts", TextFunctions.tokens(col(textCol)))
      .withColumn("__gate_total",
        graft.functions.BigramSurprisalSumExpr.of(col("__gate_ts"),
          bigramSb, uniSb, oovSb))
      .filter(size(col("__gate_ts")) > 1 &&
        col("__gate_total") * 1000L <=
          lit(threshMilli) * (size(col("__gate_ts")) - 1))
      .drop("__gate_ts", "__gate_total")

  /** Contrastive LM quality filtering — the CCNet pair construction:
    * train one unigram surprisal model on a TARGET domain slice
    * (`targetPred`, e.g. a curated source) and one on the rest of the
    * corpus, and score each document by the DIFFERENCE of its total
    * surprisals under the two models. A document that looks more like
    * the target than the background scores low (target model predicts
    * it better) and is kept when
    * `contrast·1000 ≤ threshMilli·n_tokens` — the integerized
    * perplexity-ratio filter, using the same bitLen buckets as
    * [[surprisalScores]] so every value is engine-exact.
    *
    * Plan shape mirrors q127 doubled: ONE (doc, is_target, token)
    * partial-count aggregation backs BOTH model derivations and the
    * scoring plan (detached, the [[surprisalScores]] rule); the two
    * capped vocab tables are
    * driver-built broadcast LocalRelations; no global-aggregate barrier
    * in the scoring plan. Empty documents keep a row with keep=false.
    * Degenerate slices (empty target or background partition) clamp
    * totals at 1, the [[importanceWeights]] convention — mirrored in
    * the q134 oracle SQL. */
  def contrastScores(docs: DataFrame, targetPred: Column,
      vocabSize: Int = 16, threshMilli: Long = 1500L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
      Materialize.scope { s =>
    val spark = docs.sparkSession
    import spark.implicits._
    val pd = Materialize.detached(docs
      .select(col(idCol), targetPred.as("is_target"),
        explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col(idCol), col("is_target"), col("t"))
      .agg(count(lit(1)).as("k")))
    // one aggregation pass yields BOTH models' counts per token
    val cnt = s.keep(pd.groupBy(col("t")).agg(
      sum(when(col("is_target"), col("k")).otherwise(0L)).as("ct"),
      sum(when(col("is_target"), 0L).otherwise(col("k"))).as("cb")))
    def model(countCol: String): (Array[(String, Long)], Long) = {
      val n = math.max(1L,
        Option(cnt.agg(sum(col(countCol))).head().get(0))
          .map(_.asInstanceOf[Long]).getOrElse(0L))
      val voc = cnt.filter(col(countCol) > 0)
        .orderBy(col(countCol).desc, col("t").asc).limit(vocabSize)
        .collect().map(r => (r.getString(0), bitLenJvm(n / r.getAs[Long](countCol))))
      (voc, bitLenJvm(n))
    }
    val (vocT, oovT) = model("ct")
    val (vocB, oovB) = model("cb")
    val tDf = vocT.toSeq.toDF("t", "sbt")
    val bDf = vocB.toSeq.toDF("t", "sbb")
    val scored = pd
      .join(broadcast(tDf), Seq("t"), "left")
      .join(broadcast(bDf), Seq("t"), "left")
      .withColumn("dv",
        coalesce(col("sbt"), lit(oovT)) - coalesce(col("sbb"), lit(oovB)))
      .groupBy(col(idCol))
      .agg(sum(col("k")).as("n_tokens"),
        sum(col("k") * col("dv")).as("contrast"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("contrast"), lit(0L)).as("contrast"))
      .withColumn("keep",
        col("n_tokens") > 0 &&
          col("contrast") * 1000L <= lit(threshMilli) * col("n_tokens"))
  }

  /** The (vocab → surprisal bucket, OOV bucket) pair [[surprisalGate]]
    * deploys — trained by one batch pass over a reference corpus, the
    * exact arithmetic of [[surprisalScores]]. */
  def trainSurprisalVocab(docs: DataFrame, vocabSize: Int = 16,
      textCol: String = "text"): (Map[String, Long], Long) =
      Materialize.scope { s =>
    val cnt = s.keep(docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c")))
    val n = math.max(1L,
      Option(cnt.agg(sum(col("c"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L))
    val voc = cnt.orderBy(col("c").desc, col("t").asc).limit(vocabSize)
      .collect().map(r => r.getString(0) -> bitLenJvm(n / r.getLong(1))).toMap
    (voc, bitLenJvm(n))
  }

  // ---------------------------------------------------------------------
  // DSIR-style hashed-n-gram importance weighting
  // ---------------------------------------------------------------------

  /** Per-document importance weight for target-domain resampling (the
    * DSIR recipe, Xie et al. 2023): features are word-2-grams hashed into
    * the fixed 10,000-bucket [[CorpusOps.splitBucket]] space; a bucket's
    * weight is the integer log-ratio estimate
    * `bitLen(t_f+1) − bitLen(r_f+1) + bitLen(R div T)` (target count,
    * raw count, and the size-normalization constant that makes the two
    * distributions comparable); a document's weight is the sum over its
    * gram occurrences. Positive-leaning weights mean "looks more like the
    * target domain than the corpus average"; `keep` applies the
    * `keepThreshold` acceptance knob (corpus-tuned, like DSIR's
    * resampling temperature).
    *
    * The bucket space is FIXED, so the weight table is ≤10,000 rows and
    * broadcast — the only corpus-sized shuffles are the two hash counts
    * (both map-side combinable) and the final per-doc sum.
    *
    * `targetPred` selects the target-domain sample (e.g. a curated
    * source). Empty documents follow the [[TextFunctions.wordShingles]]
    * convention (a single empty-string gram), so every doc gets a row.
    */
  def importanceWeights(docs: DataFrame, targetPred: Column,
      keepThreshold: Long = 0L, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    // The hashed feature stream backs both the bucket counts (a driver
    // action below) and the per-doc probe in the returned plan, so it is
    // detached. Raw and target counts come out of a single aggregation
    // pass (count + conditional count), not two scans.
    val gb = Materialize.detached(docs
      .select(col(idCol), targetPred.as("is_target"),
        // hoist tokenization to a real column: the shingle lambda must
        // not re-run the regex split per gram (see shinglesFromTokens)
        TextFunctions.tokens(col(textCol)).as("ts"))
      .select(col(idCol), col("is_target"),
        explode(TextFunctions.shinglesFromTokens(col("ts"), 2)).as("g"))
      .select(col(idCol), col("is_target"),
        CorpusOps.splitBucket(col("g")).as("bucket")))
    // The whole ≤10k-row weight table becomes a DRIVER-BUILT broadcast
    // LocalRelation (the tfIdfTopK nDocs convention, one action over
    // gb), so the returned plan contains gb exactly ONCE — the probe
    // join — with no weight-table subtree to recompute it a second time.
    val spark = docs.sparkSession
    import spark.implicits._
    val countRows = gb.groupBy(col("bucket")).agg(
      count(lit(1)).as("r"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rt = countRows.map(_._2).sum
    val tt = math.max(1L, countRows.map(_._3).sum)
    val normK = bitLenJvm(math.max(1L, rt / tt))
    val wDf = countRows.toSeq
      .map { case (bucket, r, t) =>
        (bucket, bitLenJvm(t + 1L) - bitLenJvm(r + 1L) + normK)
      }
      .toDF("bucket", "w")
    gb.join(broadcast(wDf), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("weight_sum"))
      .withColumn("keep", col("weight_sum") > lit(keepThreshold))
  }

  // ---------------------------------------------------------------------
  // Hashed-feature Naive Bayes quality classifier (the fastText shape)
  // ---------------------------------------------------------------------

  /** The shared hashed-feature stream: (id, is_pos, bucket) — word
    * 2-grams into [[CorpusOps.splitBucket]]'s fixed 10k FNV space, the
    * q128 feature construction with a CLASS label instead of q128's
    * target-vs-all marginal. */
  private def nbBuckets(docs: DataFrame, posPred: Column,
      idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), posPred.as("is_pos"),
        TextFunctions.tokens(col(textCol)).as("ts"))
      .select(col(idCol), col("is_pos"),
        explode(TextFunctions.shinglesFromTokens(col("ts"), 2)).as("g"))
      .select(col(idCol), col("is_pos"),
        CorpusOps.splitBucket(col("g")).as("bucket"))

  /** TRAIN (q182): per-bucket class-conditional counts and the
    * integer-exact multinomial-NB log-likelihood-ratio weight
    *
    *   w = bitLen(c_pos+1) − bitLen(c_neg+1) + bitLen(Tneg) − bitLen(Tpos)
    *
    * — add-one smoothing in the bitLen(≈log₂) regime (the q127
    * discipline), with the per-class totals as the normalizer so the
    * weight is a genuine log P(f|pos) − log P(f|neg) approximation
    * (q128's DSIR construction, upgraded from target-vs-ALL to a
    * proper two-class conditional). One aggregation pass over the
    * feature stream; the totals ride a broadcast one-row frame. The
    * result is the MODEL — ≤ 10k rows at any corpus size. */
  def nbTrainTable(docs: DataFrame, posPred: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cnt = nbBuckets(docs, posPred, idCol, textCol)
      .groupBy(col("bucket"))
      .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("is_pos"), 0L).otherwise(1L)).as("c_neg"))
    val tots = cnt.agg(
      greatest(sum(col("c_pos")), lit(1L)).as("tp"),
      greatest(sum(col("c_neg")), lit(1L)).as("tn"))
    cnt.crossJoin(broadcast(tots))
      .withColumn("w",
        bitLen(col("c_pos") + 1L) - bitLen(col("c_neg") + 1L) +
          bitLen(col("tn")) - bitLen(col("tp")))
      .select(col("bucket"), col("c_pos"), col("c_neg"),
        col("w").cast("long").as("w"))
  }

  /** The trained classifier in deployable form: the ≤10k-entry weight
    * map plus the integer class prior bitLen(n_pos) − bitLen(n_neg)
    * over DOCUMENT counts (zero-doc classes clamp at 1). Driver state
    * is model-sized — the capped-collect convention. */
  final case class NbModel(weights: Map[Long, Long], prior: Long)

  def nbModel(docs: DataFrame, posPred: Column,
      idCol: String = "doc_id", textCol: String = "text"): NbModel = {
    val weights = nbTrainTable(docs, posPred, idCol, textCol)
      .select(col("bucket"), col("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pr = docs.agg(
      greatest(sum(when(posPred, 1L).otherwise(0L)), lit(1L)),
      greatest(sum(when(posPred, 0L).otherwise(1L)), lit(1L))).head()
    NbModel(weights,
      bitLenJvm(pr.getLong(0)) - bitLenJvm(pr.getLong(1)))
  }

  /** APPLY (q183): score every document under the trained weights —
    * the broadcast-weight-table + one-narrow-pass shape (the q128
    * discipline: the detached feature stream backs both the
    * driver-built weight table and the probe join).
    * score = prior + Σ matched-bucket weights over gram occurrences;
    * keep = score > threshold. Every doc emits a row (the 2-gram
    * stream's short-doc fallback gives even an empty doc one gram). */
  def nbScore(docs: DataFrame, posPred: Column, threshold: Long = 0L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val gb = Materialize.detached(nbBuckets(docs, posPred, idCol, textCol))
    val countRows = gb.groupBy(col("bucket"))
      .agg(sum(when(col("is_pos"), 1L).otherwise(0L)).as("c_pos"),
        sum(when(col("is_pos"), 0L).otherwise(1L)).as("c_neg"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val tp = math.max(1L, countRows.map(_._2).sum)
    val tn = math.max(1L, countRows.map(_._3).sum)
    val wDf = countRows.toSeq
      .map { case (b, cp, cn) =>
        (b, bitLenJvm(cp + 1L) - bitLenJvm(cn + 1L) +
          bitLenJvm(tn) - bitLenJvm(tp))
      }
      .toDF("bucket", "w")
    val pr = docs.agg(
      greatest(sum(when(posPred, 1L).otherwise(0L)), lit(1L)),
      greatest(sum(when(posPred, 0L).otherwise(1L)), lit(1L))).head()
    val prior = bitLenJvm(pr.getLong(0)) - bitLenJvm(pr.getLong(1))
    gb.join(broadcast(wDf), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_feats"),
        (sum(col("w")) + prior).as("score"))
      .withColumn("keep", col("score") > lit(threshold))
  }

  /** GATE: the streaming-admission form — the trained [[NbModel]]
    * rides inside ONE narrow codegen'd expression
    * ([[graft.functions.NbGateExpr]], dense 10k-slot probe, no join),
    * so the filter is legal in any streaming position. LmOpsSpec pins
    * the batch-parity law: gate == [[nbScore]] row for row. */
  def nbGate(docs: DataFrame, model: NbModel, threshold: Long = 0L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.NbGateExpr.of(
        TextFunctions.tokens(col(textCol)), model.weights, model.prior)
        .as("s"))
      .select(col(idCol), col("s.n_feats").as("n_feats"),
        col("s.score").as("score"),
        (col("s.score") > lit(threshold)).as("keep"))

  // ---------------------------------------------------------------------
  // BPE tokenizer: distributed training + witness + application
  // ---------------------------------------------------------------------

  /** One learned merge: at `rank`, symbols `a`+`b` → `merged`, chosen
    * because the pair occurred `pairCount` times (weighted by word
    * frequency) — the classic byte-pair-encoding step. */
  final case class BpeMerge(rank: Int, a: String, b: String,
      merged: String, pairCount: Long)

  /** Corpus word histogram — the ONE corpus-sized pass BPE training
    * needs; every merge iteration afterwards runs over this (vocab-sized)
    * frame. */
  def wordHistogram(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(TextFunctions.tokens(col(textCol))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Adjacent symbol pairs of a symbol array, as (a, b) structs. Callers
    * filter to size ≥ 2 first. */
  private def adjacentPairs(syms: Column): Column =
    transform(sequence(lit(0), size(syms) - 2),
      i => struct(get(syms, i).as("a"), get(syms, i + 1).as("b")))

  // NOTE for maintainers: `sequence(0, size-2)` on a 1-element array is
  // [0, -1] (descending), NOT empty — adjacentPairs is only safe behind
  // a size >= 2 filter. The delta path uses the native
  // BpeBatchDeltaExpr, which has no such hazard.

  /** Left-to-right non-overlapping merge of adjacent (a, b) into a+b —
    * the BPE apply step for ONE rule, as a pure fold (equivalent to the
    * index scan: after a merge the new last element is a+b, which is
    * strictly longer than a, so it can never immediately re-match as the
    * `a` of the same rule — the fold merges exactly the scan's pairs). */
  private def mergeOnce(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedlit(Array.empty[String]),
      (acc, s) =>
        when(get(acc, size(acc) - 1) === lit(a) && s === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(s))))

  /** Distributed BPE training (Sennrich et al. 2016, algorithm 1) over a
    * word histogram: each iteration counts adjacent symbol pairs
    * frequency-weighted (an explode + hash aggregation over the
    * VOCABULARY, not the corpus), takes the argmax under the
    * deterministic total order (count desc, a asc, b asc), applies the
    * merge to every word, and repeats — until `maxMerges` rules exist or
    * the best pair drops below `minPairCount`. The driver holds only the
    * per-iteration 1-row argmax and the merge list; symbol frames stay
    * distributed, persisted per step, with lineage cut periodically
    * (localCheckpoint here; a reliable checkpoint dir on a real
    * cluster). */
  def bpeTrain(hist: DataFrame, maxMerges: Int,
      minPairCount: Long = 2L): Seq[BpeMerge] = Materialize.scope { sc =>
    var words = sc.keep(hist
      .select(filter(split(col("word"), ""), s => s =!= "").as("syms"),
        col("n")))
    val merges = scala.collection.mutable.ListBuffer.empty[BpeMerge]
    // Deferred release: each iteration's argmax job is ALSO the
    // materialization of the current frame (reading the previous one's
    // cache), so no separate count() job is needed — the previous frame
    // is released only after that argmax has run. Halves the job count
    // of the training loop versus eager count()-then-release.
    var prev: Option[DataFrame] = None
    var done = false
    var rank = 1
    while (!done && rank <= maxMerges) {
      val best = words.filter(size(col("syms")) >= 2)
        .select(explode(adjacentPairs(col("syms"))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      prev.foreach(sc.release)
      prev = None
      if (best.isEmpty || best(0).getAs[Long]("cnt") < minPairCount) done = true
      else {
        val (a, b, cnt) = (best(0).getAs[String]("a"),
          best(0).getAs[String]("b"), best(0).getAs[Long]("cnt"))
        merges += BpeMerge(rank, a, b, a + b, cnt)
        val next = words
          .select(mergeOnce(col("syms"), a, b).as("syms"), col("n"))
        // cut lineage every 8 merges so the plan depth stays bounded
        // (the cut materializes eagerly; a kept frame waits for the next
        // iteration's argmax)
        val materialized =
          if (rank % 8 == 0) Materialize.cut(next) else sc.keep(next)
        prev = Some(words)
        words = materialized
        rank += 1
      }
    }
    merges.toList
  }

  /** Instrumentation [[bpeTrainFast]] returns alongside its merges —
    * the scale evidence the trainer is graded on: `sparkJobs` must stay
    * far below `merges` (the whole point of batching); `batches` drives
    * the job count; `truncations` counts speculative batches the
    * validator cut short (each costs nothing extra — rollback is a
    * lazy recompute from the cached pre-batch frame). */
  final case class BpeTrainStats(merges: Int, batches: Int, sparkJobs: Int,
      maxBatch: Int, truncations: Int, pairTablePeak: Int = 0)

  /** Incremental, batched BPE training — the production-shape trainer.
    * Learns the IDENTICAL merge sequence to [[bpeTrain]] /
    * [[bpeTrainWitness]] (BpeScaleWitness pins it at 1,024+ merges;
    * LmOpsSpec's random-histogram law pins it over adversarial inputs)
    * while fixing the two costs that made the per-merge loop a
    * demonstration rather than a tokenizer trainer:
    *
    *   - **Pair counts are maintained by DELTA, not recounted.**
    *     Applying a merge changes only the pair profile of words that
    *     CONTAIN it; the trainer keeps the pair-count table as a
    *     driver-side hash map (capped-model convention: distinct SYMBOL
    *     PAIRS are vocabulary-shaped, like the broadcast weight tables
    *     — never corpus-shaped) seeded by one aggregation and updated
    *     from per-level deltas of touched words only.
    *
    *   - **Many merges per Spark job, with EXACT validation.** A real
    *     tokenizer needs ~32k merges; one driver-synchronized job per
    *     merge is hours of scheduler latency at ANY data size. Each
    *     round SPECULATES a batch — the top-`maxBatch` prefix of
    *     candidates in sequential order (count desc, a asc, b asc —
    *     UTF-8 binary), unconditioned: the validator below, not a
    *     selection-time invariant, is what guarantees exactness —
    *     then runs ONE job that both rewrites the words frame through
    *     the whole batch ([[graft.functions.BpeApplyArrayExpr]]) and
    *     emits PER-LEVEL pair-count deltas from the words each rule
    *     touched ([[graft.functions.BpeBatchDeltaExpr]]). The driver
    *     replays the deltas level by level, checking that each
    *     speculated rule was the true argmax of the evolving counts at
    *     its step — the exact sequential decision procedure, including
    *     ties broken by the UTF-8 order and pairs created or boosted by
    *     earlier levels (a merged symbol's string can collide with an
    *     existing symbol, so existing pairs can GAIN count mid-batch;
    *     the replay sees that exactly). On the first mismatch the batch
    *     truncates: the accepted prefix keeps its merges, the counts
    *     roll back to the accepted level, and the words frame is
    *     re-derived lazily from the cached pre-batch symbols — no
    *     compensation job. Speculation can only ever be cut short,
    *     never wrong.
    *
    * Per-batch Spark work is one vocab-sized pass (the histogram, never
    * the corpus); driver work per batch is O(distinct pairs · batch).
    * Lineage is cut every `checkpointEvery` batches. */
  def bpeTrainFast(hist: DataFrame, maxMerges: Int,
      minPairCount: Long = 2L, maxBatch: Int = 24,
      checkpointEvery: Int = 12): (Seq[BpeMerge], BpeTrainStats) =
      Materialize.scope { sc =>
    import graft.functions.Utf8Order
    val pairOrd: Ordering[((String, String), Long)] =
      Ordering.by[((String, String), Long), (Long, String, String)](
        { case ((a, b), c) => (-c, a, b) })(
        Ordering.Tuple3(Ordering.Long, Utf8Order, Utf8Order))
    var words = hist
      .select(filter(split(col("word"), ""), s => s =!= "").as("syms"),
        col("n"))
    var sparkJobs = 0
    // seed the driver pair table: the one full pair aggregation
    val cnt = new java.util.HashMap[(String, String), Long]()
    words.filter(size(col("syms")) >= 2)
      .select(explode(adjacentPairs(col("syms"))).as("p"), col("n"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("n")).as("c"))
      .collect().foreach(r =>
        cnt.put((r.getString(0), r.getString(1)), r.getLong(2)))
    sparkJobs += 1
    def argmax(): Option[((String, String), Long)] = {
      var best: ((String, String), Long) = null
      val it = cnt.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val cand = (e.getKey, e.getValue)
        if (best == null || pairOrd.compare(cand, best) < 0) best = cand
      }
      Option(best)
    }
    val merges = scala.collection.mutable.ListBuffer.empty[BpeMerge]
    val batchSizes = scala.collection.mutable.ArrayBuffer.empty[Int]
    var truncations = 0
    // driver-memory evidence: the pair table is the trainer's only
    // data-shaped driver state — its peak bounds the driver footprint
    var pairPeak = cnt.size()
    // Release discipline: a kept frame is dropped as soon as its
    // successor has materialized (a lost successor partition recomputes
    // through the lineage back to the last cut, whose blocks the
    // ContextCleaner keeps while any later frame's lineage reaches it).
    var lastPlain: Option[DataFrame] = None
    var done = false
    while (!done && merges.size < maxMerges) {
      if (argmax().forall(_._2 < minPairCount)) done = true
      else {
        // speculative batch: the top-`room` prefix of the sequential
        // candidate order over current counts — UNCONDITIONED; the
        // validator below, not any selection-time invariant, is what
        // guarantees exactness
        val entries = {
          val it = cnt.entrySet().iterator()
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[((String, String), Long)]
          while (it.hasNext) {
            val e = it.next()
            if (e.getValue >= minPairCount) buf += ((e.getKey, e.getValue))
          }
          buf.sortInPlace()(pairOrd)
        }
        val room = math.min(maxBatch, maxMerges - merges.size)
        val rules = entries.take(room).map(_._1).toSeq
        // ONE job: full-batch rewrite + per-level deltas of touched words
        val applied = words
          .select(col("syms").as("old"),
            graft.functions.BpeApplyArrayExpr.of(col("syms"), rules).as("syms"),
            col("n"))
        val checkpointed = (batchSizes.size + 1) % checkpointEvery == 0
        val materialized =
          if (checkpointed) applied.localCheckpoint(eager = false)
          else sc.keep(applied)
        val deltaRows = materialized
          .filter(size(col("old")) =!= size(col("syms")))
          .select(explode(
            graft.functions.BpeBatchDeltaExpr.of(col("old"), rules)).as("d"),
            col("n"))
          .groupBy(col("d.lvl").as("lvl"), col("d.a").as("a"),
            col("d.b").as("b"))
          .agg(sum(col("d.w") * col("n")).as("dw"))
          .filter(col("dw") =!= 0L)
          .collect()
        sparkJobs += 1
        val byLevel = deltaRows.groupBy(_.getInt(0))
        // replay: accept each speculated rule only if it is the true
        // argmax of the evolving counts at its step
        var accepted = 0
        var reject = false
        while (!reject && accepted < rules.length) {
          val rule = rules(accepted)
          argmax() match {
            case Some((p, c)) if p == rule && c >= minPairCount =>
              merges += BpeMerge(merges.size + 1, rule._1, rule._2,
                rule._1 + rule._2, c)
              byLevel.getOrElse(accepted + 1, Array.empty).foreach { r =>
                val key = (r.getString(1), r.getString(2))
                val nv = cnt.getOrDefault(key, 0L) + r.getLong(3)
                if (nv <= 0L) cnt.remove(key) else cnt.put(key, nv)
              }
              accepted += 1
            case _ => reject = true
          }
        }
        if (reject) truncations += 1
        batchSizes += accepted
        pairPeak = math.max(pairPeak, cnt.size())
        lastPlain.foreach(sc.release)
        lastPlain = if (checkpointed) None else Some(materialized)
        words =
          if (accepted == rules.length) materialized.select(col("syms"), col("n"))
          else if (accepted == 0) materialized.select(col("old").as("syms"), col("n"))
          else materialized.select(
            graft.functions.BpeApplyArrayExpr.of(col("old"), rules.take(accepted))
              .as("syms"), col("n"))
      }
    }
    (merges.toList,
      BpeTrainStats(merges.size, batchSizes.size, sparkJobs,
        if (batchSizes.isEmpty) 0 else batchSizes.max, truncations, pairPeak))
  }

  /** Learned merges as a frame (the q129 result shape). */
  def mergesToDf(spark: SparkSession, merges: Seq[BpeMerge]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "a", "b", "merged", "pair_count")
      .select(col("rank").cast("long").as("rank"), col("a"), col("b"),
        col("merged"), col("pair_count"))
  }

  /** Textbook sequential BPE — the INDEPENDENT witness implementation
    * the q129 oracle compares the distributed path against. Shares no
    * mechanism with [[bpeTrain]]: code-point splitting (not regex),
    * an index scan with explicit skip-ahead (not the fold), and a plain
    * hash-map pair count (not a Spark aggregation). */
  /** Index-scan left-to-right non-overlapping merge of ONE rule — the
    * witness-side apply step (structurally independent of the
    * [[mergeOnce]] fold and the [[bpeSymbolCount]] replace chain). */
  private def scanMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Code-point split — the witness-side tokenizer-to-symbols step. */
  def codePointChars(w: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      out += new String(Character.toChars(cp))
      i += Character.charCount(cp)
    }
    out.result()
  }

  /** Witness-side BPE APPLY: the SYMBOLS of `word` after the merge
    * rules run in rank order, each as an index scan. Pairs with
    * [[bpeTrainWitness]] to give the q132/q136 oracles a train→apply
    * path that shares no mechanism with the distributed trainer + the
    * [[bpeSymbolCount]] replace chain / native kernels. */
  def applyMergesScanSyms(word: String,
      merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(codePointChars(word)) {
      case (syms, (a, b)) => scanMerge(syms, a, b)
    }

  /** Symbol COUNT of the witness apply (q132's shape). */
  def applyMergesScan(word: String, merges: Seq[(String, String)]): Int =
    applyMergesScanSyms(word, merges).length

  def bpeTrainWitness(hist: Seq[(String, Long)], maxMerges: Int,
      minPairCount: Long = 2L): Seq[BpeMerge] = {
    var words: Seq[(Vector[String], Long)] =
      hist.map { case (w, n) => (codePointChars(w), n) }
    val merges = scala.collection.mutable.ListBuffer.empty[BpeMerge]
    var rank = 1
    var done = false
    while (!done && rank <= maxMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) =
          counts.getOrElse((syms(i), syms(i + 1)), 0L) + n
      if (counts.isEmpty) done = true
      else {
        // tie-break in UTF-8 BINARY order — what the distributed path's
        // Spark orderBy uses; JVM String order would diverge on non-BMP
        val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (-c, a, b) }(
          Ordering.Tuple3(Ordering.Long, graft.functions.Utf8Order,
            graft.functions.Utf8Order))
        if (cnt < minPairCount) done = true
        else {
          merges += BpeMerge(rank, a, b, a + b, cnt)
          words = words.map { case (syms, n) => (scanMerge(syms, a, b), n) }
          rank += 1
        }
      }
    }
    merges.toList
  }

  /** Vocabulary id assignment for a trained BPE tokenizer: base
    * alphabet symbols (sorted UTF-8 binary, ids 0..A-1), then merged
    * symbols in rank order (id A+rank-1) — the standard layout, fully
    * determined by (alphabet, merges) so the engine and the sequential
    * witness derive identical tables from identical training.
    *
    * Collision rule, PINNED: two merges can produce the same merged
    * string (e.g. ("ab","c") and ("a","bc") both yield "abc") — the
    * FIRST rank wins the id and the later rank's slot id is simply
    * unused (the encoder only ever looks up by string, so an unused id
    * is harmless; what matters is that the string→id mapping is a
    * stated contract, not a Map-update accident). A merged string that
    * equals a base alphabet symbol likewise keeps the alphabet id. */
  def bpeVocabIds(alphabet: Seq[String],
      merges: Seq[BpeMerge]): Map[String, Int] = {
    val base = alphabet.sorted(graft.functions.Utf8Order).zipWithIndex.toMap
    merges.foldLeft(base) { (acc, m) =>
      if (acc.contains(m.merged)) acc
      else acc + (m.merged -> (base.size + m.rank - 1))
    }
  }

  /** The corpus ALPHABET — distinct single-codepoint symbols across the
    * word histogram, the base of [[bpeVocabIds]]. Vocab-sized driver
    * collect (the capped-model convention). */
  def bpeAlphabet(hist: DataFrame): Seq[String] =
    hist.select(explode(filter(split(col("word"), ""), s => s =!= ""))
      .as("s")).distinct().collect().map(_.getString(0)).toSeq

  /** Per-document BPE ENCODE report under a trained tokenizer: apply
    * the merges per token, map symbols to vocabulary ids, and emit the
    * ordered-sequence (n_ids, checksum) row — the tokenize-to-ids
    * stage reduced to a comparable shape. The kernel
    * ([[graft.functions.BpeEncodeExpr]]) holds the merge table and id
    * map per executor; the scan is one narrow per-row pass, and the
    * only shuffle is none at all (per-doc rows stay where they are). */
  def bpeEncodeReport(docs: DataFrame, merges: Seq[(String, String)],
      vocabIds: Map[String, Int], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.BpeEncodeExpr.of(
        TextFunctions.tokens(col(textCol)), merges, vocabIds).as("e"))
      .select(col(idCol), col("e.n_ids").as("n_ids"),
        col("e.checksum").as("checksum"))

  // ------------------------------------------------------------------
  // BYTE-LEVEL BPE (the GPT-2 family): one seed transform — each word
  // re-expressed as its UTF-8 byte symbols via the reversible
  // byte↔unicode remap (graft.functions.ByteBpe) — and the ENTIRE
  // character-level machinery above (bpeTrainFast, the apply scan,
  // BpeEncodeExpr) runs unchanged over byte symbols. No UNK is
  // possible by construction (ByteBpe.vocabIds is total over every
  // symbol the scan can emit) and tokenization is reversible.
  // ------------------------------------------------------------------

  /** The word histogram with every word re-expressed as byte symbols —
    * after this one narrow transform, [[bpeTrainFast]]'s per-character
    * seed split IS a per-byte split (each remap character is one
    * byte). Counts are untouched: the remap is injective. */
  def byteHistogram(hist: DataFrame): DataFrame =
    hist.select(graft.functions.ByteRemapExpr.of(col("word")).as("word"),
      col("n"))

  /** Per-document BYTE-LEVEL encode report — [[bpeEncodeReport]] with
    * the tokens remapped to byte symbols before the shared encode
    * kernel. Same narrow one-pass shape; ids from
    * [[graft.functions.ByteBpe.vocabIds]] (ids 0..255 are the byte
    * values, merge r is 256 + r − 1). */
  def byteBpeEncodeReport(docs: DataFrame, merges: Seq[(String, String)],
      vocabIds: Map[String, Int], idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      graft.functions.BpeEncodeExpr.of(
        transform(TextFunctions.tokens(col(textCol)),
          t => graft.functions.ByteRemapExpr.of(t)),
        merges, vocabIds).as("e"))
      .select(col(idCol), col("e.n_ids").as("n_ids"),
        col("e.checksum").as("checksum"))

  /** The fixed merge table q130 pins APPLY semantics with (training
    * produces the real table; a fixed one keeps the oracle fully
    * recomputable in SQL). Chosen for this corpus's vocabulary so the
    * chained rules actually fire — note rules 2, 4, 6, 8 and 10 consume
    * symbols merged by earlier rules, exercising rank-order chaining. */
  val FixedMerges: Seq[(String, String)] = Seq(
    "t" -> "a", "ta" -> "b", "s" -> "c", "sc" -> "a", "h" -> "a",
    "ha" -> "s", "a" -> "g", "ag" -> "g", "b" -> "a", "ba" -> "t")

  /** Number of BPE symbols a word tokenizes into under `merges`, applied
    * in rank order — as a pure Column expression: char split, then the
    * [[mergeOnce]] fold per rule, which IS the left-to-right
    * non-overlapping scan (LmOpsSpec pins the equivalence; the
    * PropertySpec law checks it against the witness scan over random
    * words and chained merge tables).
    *
    * NOT a single-pass string `replace(" a b ", " ab ")` chain: adjacent
    * disjoint matches share their delimiter space, so one replace pass
    * misses every other pair of an " a b a b " run — a divergence from
    * BPE scan semantics that the q130 property test caught on the input
    * `abab` (the corpus never exercises the pattern; random words do).
    * A replace chain only equals the scan at its FIXPOINT — which is how
    * the q130 DuckDB oracle, which has no list fold, mirrors this: each
    * rule's replace repeated ⌈log2(pairs)⌉+1 times. */
  def bpeSymbolCount(word: Column,
      merges: Seq[(String, String)] = FixedMerges): Column = {
    val chars = filter(split(word, ""), s => s =!= "")
    val merged = merges.foldLeft(chars) { case (syms, (a, b)) =>
      mergeOnce(syms, a, b)
    }
    size(merged)
  }

  /** Per-document BPE tokenization cost under the fixed merge table:
    * word count and post-merge symbol count. A narrow per-row map plus
    * one per-doc aggregation — embarrassingly parallel. Zero-token
    * documents keep a (0, 0) row. */
  def bpeApplyReport(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text",
      merges: Seq[(String, String)] = FixedMerges): DataFrame = {
    val perWord = docs
      .select(col(idCol), explode(TextFunctions.tokens(col(textCol))).as("w"))
      .select(col(idCol),
        graft.functions.BpeApplyExpr.of(col("w"), merges).as("ns"))
    docs.select(col(idCol))
      .join(perWord.groupBy(col(idCol))
        .agg(count(lit(1)).as("n_words"), sum(col("ns")).as("n_subwords")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("n_subwords"), lit(0L)).cast("long").as("n_subwords"))
  }

  // ------------------------------------------ PMI collocation mining

  /** word2vec phrase-table trainer (Mikolov et al. 2013, "Distributed
    * Representations of Words and Phrases", §4) — NOT q167's undirected
    * association ranker ([[graft.operators.GraphRank.collocations]]):
    * this is the DIRECTED, δ-discounted scorer whose output is a merge
    * TABLE deployed by [[phraseMergeReport]] (the model→consumer pair
    * of q200/q201 and q129/q130). Scores each ordered corpus bigram
    * (a, b) by
    *
    *   score(a, b) = (c2(ab) − δ) · N / (c1(a) · c1(b))
    *
    * (δ = `delta` discounts rare-pair flukes; N = total tokens), as
    * `score_milli` = 1000·num div den in exact DECIMAL(38,0) integer
    * arithmetic — no 64-bit ceiling at any corpus (c2·N·1000 passes
    * 2^63 near ~10^8 tokens). Also reports the true PMI
    * log2(p(ab) / (p(a)·p(b))) rounded to its containing power of two
    * (the q127 bitLen bucket discipline), SIGNED:
    *
    *   pmi_bit =  bitLen(c2·N² div (N2·c1a·c1b))   when ratio ≥ 1
    *           = −bitLen(N2·c1a·c1b div (c2·N²))    otherwise
    *
    * where N2 = total bigram occurrences. Returns the top-`topN`
    * collocations by (score_milli desc, prev asc, cur asc) with all
    * count inputs attached — ≤ topN rows, so the result is an eagerly
    * materialized LocalRelation and the corpus caches are released
    * before return (the knBigramModel discipline).
    *
    * Scale shape: one corpus shuffle to bigram counts + one to token
    * counts; both join stages are vocabulary-sized with `shuffle_hash`
    * pinned (a token vocabulary at 100 TB is far past broadcast range
    * and AQE must not be allowed to guess otherwise — the q195
    * lesson); the two grand totals ride 1-row broadcasts. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 3L,
      delta: Long = 1L, topN: Int = 50,
      textCol: String = "text"): DataFrame = {
    require(topN >= 1, s"topN must be at least 1, got $topN")
    require(minCount >= 1, s"minCount must be at least 1, got $minCount")
    require(delta >= 0 && delta < minCount,
      s"delta must sit in [0, minCount): got delta=$delta minCount=$minCount")
    val spark = docs.sparkSession
    import spark.implicits._
    val c2 = docs.select(explode(TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(col(textCol)), 2)).as("g"))
      .filter(size(TextFunctions.tokens(col("g"))) === 2)
      .select(split(col("g"), " ").getItem(0).as("prev"),
        split(col("g"), " ").getItem(1).as("cur"))
      .groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("c2"))
    val c1 = docs
      .select(explode(TextFunctions.tokens(col(textCol))).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val plan = c2.filter(col("c2") >= minCount)
      .join(c1.select(col("t").as("prev"), col("c1").as("c1a"))
        .hint("shuffle_hash"), Seq("prev"))
      .join(c1.select(col("t").as("cur"), col("c1").as("c1b"))
        .hint("shuffle_hash"), Seq("cur"))
      .crossJoin(broadcast(c1.agg(sum(col("c1")).as("tot"))))
      .crossJoin(broadcast(c2.agg(sum(col("c2")).as("n2"))))
      .withColumn("nums",
        (col("c2").cast(dec) - delta) * col("tot") * 1000)
      .withColumn("dens", col("c1a").cast(dec) * col("c1b"))
      .withColumn("nump", col("c2").cast(dec) * col("tot") * col("tot"))
      .withColumn("denp", col("n2").cast(dec) * col("c1a") * col("c1b"))
      .select(col("prev"), col("cur"), col("c2"), col("c1a"), col("c1b"),
        col("tot"), col("n2"),
        expr("CAST(nums DIV dens AS BIGINT)").as("score_milli"),
        when(col("nump") >= col("denp"),
            bitLen(expr("CAST(nump DIV denp AS BIGINT)")))
          .otherwise(-bitLen(expr("CAST(denp DIV nump AS BIGINT)")))
          .cast("long").as("pmi_bit"))
      .orderBy(col("score_milli").desc, col("prev").asc, col("cur").asc)
      .limit(topN)
    val rows = Materialize.scope { s =>
      s.keep(c2); s.keep(c1); plan.collect()
    }
    rows.map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7), r.getLong(8))).toSeq
      .toDF("prev", "cur", "c2", "c1a", "c1b", "tot", "n2",
        "score_milli", "pmi_bit")
  }

  // ------------------------- Min-K% Prob membership / contamination

  /** Min-K% Prob membership scores (Shi et al. 2023): per document,
    * the sum of the top ⌈pct·nb⌉ per-position surprisals under the
    * q133 bigram model (trained in the same call — the q132 rule) and
    * the membership flag
    *
    *   member = nb > 0 AND mink_sum·1000 ≤ threshMilli·k
    *
    * — a document whose WORST k% positions still look probable under
    * the corpus model is the membership-inference signature of text
    * the model has seen (in surprisal units "high min-k% prob" = LOW
    * top-k surprisal). Zero-bigram docs carry no signal and are NOT
    * members (they cannot have been memorized into the bigram table).
    *
    * One corpus pass after training: the model rides the plan inside
    * [[graft.functions.MinKSurprisalExpr]] (broadcast-free, join-free)
    * and k is a pure column function of the token count, so the flag
    * is a plain comparison. The default knobs are the measured
    * SPLITTING configuration on the documents fixture (209/291 at
    * sf0.01 — the q128 convention): the vocab must be rich enough that
    * the worst k% is not all-OOV (at the q133 default 64/16 the top
    * quintile of every doc is the OOV bucket and the probe is
    * degenerate — measured), and like every corpus-statistics knob it
    * is corpus-dependent.
    *
    * Returns (doc_id, n_bigrams, mink_k, mink_sum, member). */
  def minkScores(docs: DataFrame, bigramVocab: Int = 512,
      unigramVocab: Int = 64, pctMilli: Long = 200L,
      threshMilli: Long = 5000L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (bigMap, uniMap, oovSb) =
      trainBigramVocab(docs, bigramVocab, unigramVocab, textCol)
    minkScoresWith(docs, bigMap, uniMap, oovSb, pctMilli, threshMilli,
      idCol, textCol)
  }

  /** [[minkScores]] under a PRE-TRAINED model — the deployable scorer
    * (and the batch twin the gate's parity law pins). */
  def minkScoresWith(docs: DataFrame, bigramSb: Map[String, Long],
      uniSb: Map[String, Long], oovSb: Long, pctMilli: Long,
      threshMilli: Long,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("__mk_ts", TextFunctions.tokens(col(textCol)))
      .withColumn("__mk_nb",
        greatest(size(col("__mk_ts")).cast("long") - 1L, lit(0L)))
      .select(col(idCol),
        col("__mk_nb").as("n_bigrams"),
        when(col("__mk_nb") > 0,
            expr(s"($pctMilli * __mk_nb + 999) DIV 1000"))
          .otherwise(lit(0L)).as("mink_k"),
        graft.functions.MinKSurprisalExpr.of(col("__mk_ts"),
          bigramSb, uniSb, oovSb, pctMilli).as("mink_sum"))
      .withColumn("member",
        col("n_bigrams") > 0 &&
          col("mink_sum") * 1000L <= lit(threshMilli) * col("mink_k"))

  /** Decontamination admission twin of [[minkScores]]: DROP documents
    * the Min-K% probe flags as training members (suspected memorized /
    * benchmark text), keep everything else — the same pre-trained-
    * model deployment shape as [[surprisalGate]]: a pure per-row
    * predicate, no join, no aggregation, legal in any streaming
    * position. Parity with the batch flag is pinned by LmOpsSpec. */
  def minkGate(docs: DataFrame, bigramSb: Map[String, Long],
      uniSb: Map[String, Long], oovSb: Long, pctMilli: Long = 200L,
      threshMilli: Long = 5000L, textCol: String = "text"): DataFrame =
    docs
      .withColumn("__mk_ts", TextFunctions.tokens(col(textCol)))
      .withColumn("__mk_nb",
        greatest(size(col("__mk_ts")).cast("long") - 1L, lit(0L)))
      .withColumn("__mk_sum", graft.functions.MinKSurprisalExpr.of(
        col("__mk_ts"), bigramSb, uniSb, oovSb, pctMilli))
      .filter(col("__mk_nb") === 0 ||
        col("__mk_sum") * 1000L >
          lit(threshMilli) * expr(s"($pctMilli * __mk_nb + 999) DIV 1000"))
      .drop("__mk_ts", "__mk_nb", "__mk_sum")

  /** word2vec phrase-merge pass under a fixed phrase table (the q208
    * model's (prev, cur) pairs): per document, the match count on the
    * ORIGINAL token sequence and the greedy left-to-right
    * non-overlapping merge count, plus the post-merge token count
    * n_after = n_tokens − n_merges. One narrow corpus pass through
    * [[graft.functions.PhraseMergeExpr]] — the table ships with the
    * plan (the CCNet gate deployment shape), so the pass is legal in
    * any streaming position and there is no join or shuffle anywhere.
    *
    * Merge semantics (the single-pass word2vec convention): matches
    * are judged on original tokens only — a merged pair is not
    * reconsidered as the left constituent of a later phrase — and the
    * greedy scan consumes both tokens of a match. LmOpsSpec pins this
    * scan against [[phraseMergeRunsForm]]'s closed declarative form on
    * adversarial overlap chains. */
  def phraseMergeReport(docs: DataFrame, phrases: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs
      .withColumn("__pm_ts", TextFunctions.tokens(col(textCol)))
      .withColumn("__pm", graft.functions.PhraseMergeExpr.of(
        col("__pm_ts"), phrases.map { case (a, b) => a + " " + b }))
      .select(col(idCol),
        size(col("__pm_ts")).cast("long").as("n_tokens"),
        col("__pm.n_matches").as("n_matches"),
        col("__pm.n_merges").as("n_merges"),
        (size(col("__pm_ts")).cast("long") - col("__pm.n_merges"))
          .as("n_after"))

  /** The closed declarative form of [[phraseMergeReport]]'s greedy
    * count — the law twin LmOpsSpec pins and the shape the q209 oracle
    * re-derives in SQL: greedy left-to-right non-overlapping selection
    * takes ⌈L/2⌉ positions from each maximal run of L consecutive
    * matching positions (it enters every run at its head and then
    * takes every other position), so
    *
    *   n_merges = Σ_runs ⌈L/2⌉
    *
    * computed with gaps-and-islands (pos − row_number over matches per
    * doc). Exists for the LAW, not the data plane: it explodes the
    * corpus per position where the expression pass is one narrow scan. */
  def phraseMergeRunsForm(docs: DataFrame, phrases: Seq[(String, String)],
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val phraseDf = phrases.map { case (a, b) => a + " " + b }.toDF("g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val grams = docs
      .select(col(idCol), posexplode_outer(TextFunctions.shinglesFromTokens(
        TextFunctions.tokens(col(textCol)), 2)).as(Seq("pos", "g")))
      .filter(size(TextFunctions.tokens(col("g"))) === 2)
    val matches = grams.join(broadcast(phraseDf), Seq("g"))
      .select(col(idCol), col("pos"))
    val runs = matches
      .withColumn("island", col("pos") - row_number().over(w))
      .groupBy(col(idCol), col("island"))
      .agg(count(lit(1)).as("len"))
      .groupBy(col(idCol))
      .agg(sum(expr("(len + 1) DIV 2")).as("n_merges"),
        sum(col("len")).as("n_matches"))
    docs
      .select(col(idCol),
        size(TextFunctions.tokens(col(textCol))).cast("long").as("n_tokens"))
      .join(runs, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("n_merges"), lit(0L)).as("n_merges"),
        (col("n_tokens") - coalesce(col("n_merges"), lit(0L))).as("n_after"))
  }
}
