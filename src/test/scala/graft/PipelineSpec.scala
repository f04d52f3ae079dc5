package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, DedupWitness, Similarity, SimilarityWitness}

/** API-level invariants of the dedup/similarity operators that the DuckDB
  * oracle queries (q27-q33) don't cover directly. Runs on sf0.001. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("pipeline-spec", "4").getOrCreate()

  private val dir = "/root/testdata/sf0.001"
  private def docs = graft.core.Tables(spark, dir).documents
  private def embeddings = graft.core.Tables(spark, dir).embeddings

  private def planted = {
    val d = docs.select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  test("dropExactDuplicates keeps exactly one row per content, min id") {
    val deduped = Dedup.dropExactDuplicates(planted)
    assert(deduped.count() == docs.count()) // all planted copies removed
    assert(deduped.filter(col("doc_id") >= 100000).count() == 0) // min id kept
  }

  test("minhash LSH finds all planted exact duplicates (jaccard 1.0)") {
    val pairs = Dedup.minhashNearDupPairs(planted).collect()
    val plantedIds = docs.filter(col("doc_id") % 5 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val found = pairs.filter(_.getDouble(2) == 1.0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    plantedIds.foreach { id =>
      assert(found.contains((id, id + 100000)),
        s"planted dup pair ($id, ${id + 100000}) not found")
    }
  }

  test("simhash16 is identical for identical docs and within [0, 65536)") {
    val fps = planted.select(col("doc_id"), Dedup.simhash16(col("text")).as("sh"))
    val byDoc = fps.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.keys.filter(_ >= 100000).foreach { id =>
      assert(byDoc(id) == byDoc(id - 100000))
    }
    assert(byDoc.values.forall(v => v >= 0 && v < 65536))
  }

  test("shingle + jaccard kernels match the declarative formulations") {
    import graft.functions.{ShingleExpressions, TextFunctions}
    val sample = docs.limit(100)
    val parity = sample.select(
      ShingleExpressions.charShinglesDistinct(col("text"), 5).as("ck"),
      array_distinct(TextFunctions.charNgrams(col("text"), 5)).as("cd"),
      ShingleExpressions.wordShinglesDistinct(col("text"), 3).as("wk"),
      array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("wd")).collect()
    assert(parity.nonEmpty)
    parity.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[String](2) == r.getSeq[String](3))
    }
    // edge cases: short text, repeated tokens, multi-space
    import spark.implicits._
    val edges = Seq("ab", "", "a a a a", "x  y\tz", "abcdefgh").toDF("text")
    val ep = edges.select(
      ShingleExpressions.charShinglesDistinct(col("text"), 5).as("ck"),
      array_distinct(TextFunctions.charNgrams(col("text"), 5)).as("cd"),
      ShingleExpressions.wordShinglesDistinct(col("text"), 3).as("wk"),
      array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("wd")).collect()
    ep.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
      assert(r.getSeq[String](2) == r.getSeq[String](3))
    }
    // jaccard kernel == declarative on real shingle pairs
    val a = docs.limit(50).select(col("doc_id"),
      ShingleExpressions.wordShinglesDistinct(col("text"), 3).as("sh"))
    val pairs = a.crossJoin(a.select(col("doc_id").as("id2"), col("sh").as("sh2")))
      .filter(col("doc_id") < col("id2")).limit(200)
    val jp = pairs.select(
      graft.operators.Dedup.jaccard(col("sh"), col("sh2")).as("k"),
      graft.operators.DedupWitness.jaccardDeclarative(col("sh"), col("sh2")).as("d")).collect()
    assert(jp.nonEmpty)
    jp.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("containment candidates find a doc planted inside a larger doc") {
    import spark.implicits._
    val base = docs.limit(30).select(col("doc_id"), col("text"))
    val rows = base.collect().map(r => (r.getLong(0), r.getString(1)))
    // plant: doc 900001 CONTAINS doc rows(0)'s full text inside wrapper prose
    val contained = rows(0)
    val container = (900001L,
      "unrelated preamble text here. " + contained._2 + " trailing commentary.")
    val corpus = (rows :+ container).toSeq.toDF("doc_id", "text")
    val cands = graft.operators.Dedup.containmentCandidates(corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cands.exists { case (a, b, n) =>
      a == contained._1 && b == 900001L && n >= 5 },
      s"containment pair not found: ${cands.toSeq}")
    // an unrelated pair of short distinct docs should not appear with
    // high shared counts unless genuinely similar — sanity: the planted
    // pair shares the most fingerprints involving the container
    val top = cands.filter(_._2 == 900001L).maxBy(_._3)
    assert(top._1 == contained._1)
  }

  test("sessionize: gap boundary is exclusive; ties break on seq") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, "u1", ts("2025-01-01 10:00:00")),
      (2L, "u1", ts("2025-01-01 10:30:00")), // gap == 1800 s exactly → SAME session
      (3L, "u1", ts("2025-01-01 11:00:01")), // gap 1801 s → new session
      (4L, "u2", ts("2025-01-01 10:00:00"))
    ).toDF("event_id", "k", "ts")
    val got = graft.operators.Sessionize
      .byGap(ev, "k", "ts", "event_id", gapSeconds = 1800)
      .select("event_id", "session_id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "u1#1" && got(2L) == "u1#1")
    assert(got(3L) == "u1#2")
    assert(got(4L) == "u2#1")
  }

  test("range join: boundary inclusion, cross-bucket intervals, no dupes") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq(
      (1L, "k1", ts("2025-01-01 10:00:00")), // == interval start
      (2L, "k1", ts("2025-01-01 10:45:00")), // mid, crosses bucket boundary
      (3L, "k1", ts("2025-01-01 11:00:00")), // == interval end
      (4L, "k1", ts("2025-01-01 11:00:01")), // just past end
      (5L, "k2", ts("2025-01-01 10:30:00"))  // right time, wrong key
    ).toDF("event_id", "k", "ts")
    val iv = Seq(("k1", ts("2025-01-01 10:00:00"), ts("2025-01-01 11:00:00"), 7L))
      .toDF("k", "s", "e", "iv_id")
    val got = graft.operators.RangeJoin
      .pointInInterval(pts, iv, "k", "ts", "s", "e", bucketSeconds = 1800)
      .select("event_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == Seq(1L, 2L, 3L)) // inclusive bounds, one row each
  }

  test("asof join matches latest-at-or-before per key incl. exact-ts ties") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      (1L, "k1", ts("2025-01-01 10:00:05")),
      (2L, "k1", ts("2025-01-01 10:00:10")), // exactly at a quote ts
      (3L, "k1", ts("2025-01-01 09:00:00")), // before any quote
      (4L, "k2", ts("2025-01-01 10:00:07"))
    ).toDF("event_id", "k", "ts")
    val quotes = Seq(
      ("k1", ts("2025-01-01 10:00:00"), 100.0, 1L),
      ("k1", ts("2025-01-01 10:00:10"), 105.0, 2L),
      ("k2", ts("2025-01-01 10:00:06"), 7.0, 3L)
    ).toDF("k", "ts", "quote", "qid")
    val got = graft.operators.AsofJoin
      .asof(trades, quotes, "k", "ts", Seq("quote"), "qid")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(1L).contains(100.0)) // latest before 10:00:05
    assert(got(2L).contains(105.0)) // quote AT trade ts is visible (<=)
    assert(got(3L).isEmpty)         // nothing precedes
    assert(got(4L).contains(7.0))

    // a legitimately-NULL payload on the most recent right row must MASK
    // older non-null values (struct carry), not fall through to them
    val quotes2 = Seq(
      ("k1", ts("2025-01-01 10:00:00"), Some(100.0), 1L),
      ("k1", ts("2025-01-01 10:00:08"), None, 2L)
    ).toDF("k", "ts", "quote", "qid")
    val masked = graft.operators.AsofJoin
      .asof(trades.filter($"event_id" === 2L), quotes2, "k", "ts", Seq("quote"), "qid")
      .collect().head
    assert(masked.isNullAt(3)) // most recent right row's null wins
  }

  test("asof join: multi-column payload comes from the SAME right row") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq((1L, "k", ts("2025-01-01 10:00:09"))).toDF("event_id", "k", "ts")
    val right = Seq(
      ("k", ts("2025-01-01 10:00:00"), 100.0, "old", 1L),
      ("k", ts("2025-01-01 10:00:05"), 105.0, "new", 2L)
    ).toDF("k", "ts", "price", "tag", "qid")
    val r = graft.operators.AsofJoin
      .asof(left, right, "k", "ts", Seq("price", "tag"), "qid").collect().head
    assert(r.getDouble(3) == 105.0 && r.getString(4) == "new") // one row, both fields
  }

  test("funnel: ordering is strict, out-of-order steps don't count, curve is monotone") {
    import spark.implicits._
    import graft.operators.Funnel
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 completes in order
      (1L, "view", ts("2025-01-01 10:00:00")),
      (1L, "click", ts("2025-01-01 10:01:00")),
      (1L, "purchase", ts("2025-01-01 10:02:00")),
      // u2: click BEFORE the first view -> click must not count;
      // a later click resumes the funnel
      (2L, "click", ts("2025-01-01 09:00:00")),
      (2L, "view", ts("2025-01-01 10:00:00")),
      (2L, "click", ts("2025-01-01 10:30:00")),
      // u3: click at EXACTLY the view timestamp -> strict > rejects it
      (3L, "view", ts("2025-01-01 10:00:00")),
      (3L, "click", ts("2025-01-01 10:00:00")),
      // u4: purchase only -> not in the funnel at all (no step 1)
      (4L, "purchase", ts("2025-01-01 10:00:00"))
    ).toDF("user_id", "event_type", "ts")
    val steps = Seq(
      "view" -> (col("event_type") === "view"),
      "click" -> (col("event_type") === "click"),
      "purchase" -> (col("event_type") === "purchase"))
    val per = Funnel.funnel(ev, "user_id", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(per == Map(1L -> 3, 2L -> 2, 3L -> 1))
    val curve = Funnel.conversionCurve(
      Funnel.funnel(ev, "user_id", "ts", steps), steps.map(_._1))
      .collect().head
    assert((curve.getLong(0), curve.getLong(1), curve.getLong(2)) == ((3L, 2L, 1L)))
    // conversion window measured from step 1: u1's purchase at +2min
    // and u2's resumed click at +30min fall outside a 90s window;
    // u1's click at +60s stays inside
    val windowed = Funnel.funnel(ev, "user_id", "ts", steps,
      windowMillis = Some(90000L))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(windowed == Map(1L -> 2, 2L -> 1, 3L -> 1))
  }

  test("range join: interval spanning 3+ buckets still matches exactly once") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val pts = Seq((1L, "k", ts("2025-01-01 11:20:00"))).toDF("event_id", "k", "ts")
    // 3-hour interval over 30-min buckets → explodes into 7 buckets
    val iv = Seq(("k", ts("2025-01-01 10:00:00"), ts("2025-01-01 13:00:00"), 9L))
      .toDF("k", "s", "e", "iv_id")
    val got = graft.operators.RangeJoin
      .pointInInterval(pts, iv, "k", "ts", "s", "e", bucketSeconds = 1800)
    assert(got.count() == 1) // point's own bucket matches exactly one exploded row
  }

  test("cosine + lang/quality kernels match the declarative formulations") {
    import graft.operators.Similarity
    val e = embeddings.limit(40)
    val pairs = e.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(e.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib")).limit(300)
    val cp = pairs.select(
      Similarity.cosine(col("va"), col("vb")).as("k"),
      SimilarityWitness.cosineDeclarative(col("va"), col("vb")).as("d")).collect()
    assert(cp.nonEmpty)
    cp.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-exact

    import graft.functions.{LangQualityExpr, TextFunctions}
    val lq = docs.limit(200).select(
      LangQualityExpr.of(col("text")).as("lq"),
      TextFunctions.langIdHeuristic(col("text")).as("dl"),
      TextFunctions.qualityScore(col("text")).as("dq"))
    val rows = lq.select(col("lq.lang"), col("lq.quality"), col("dl"), col("dq")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getString(0) == r.getString(2))
      assert(r.getDouble(1) == r.getDouble(3)) // identical double op order
    }
  }

  test("simhash64 native kernel matches the declarative formulation") {
    val both = docs.limit(100).select(
      Dedup.simhash64(col("text")).as("kernel"),
      DedupWitness.simhash64Declarative(col("text")).as("decl")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash16 native kernel matches the declarative formulation") {
    val both = planted.select(
      Dedup.simhash16(col("text")).as("kernel"),
      DedupWitness.simhash16Declarative(col("text")).as("decl")).collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("hot-bucket cap drops pathological buckets and accounts for them") {
    import spark.implicits._
    // 20 identical boilerplate docs (one quadratic bucket) + the real corpus
    val boiler = (1 to 20).map(i =>
      (200000L + i, "exact same boilerplate text repeated in every doc"))
      .toDF("doc_id", "text")
    val corpus = planted.unionByName(boiler)
    val mh = Dedup.minhashed(corpus, "doc_id", "text",
      shingleSize = 3, numHashes = 12, rowsPerBand = 3)
    // uncapped: the boilerplate cluster pairs quadratically (190 pairs)
    val uncapped = Dedup.lshCandidatePairs(mh)
      .filter(col("id_a") >= 200000L).count()
    assert(uncapped >= 190)
    // capped at 10: every band bucket the boilerplate occupies exceeds the
    // cap, so those candidates disappear — and the accounting reports them
    val capped = Dedup.lshCandidatePairs(mh, maxBucketSize = Some(10))
      .filter(col("id_a") >= 200000L).count()
    assert(capped == 0)
    val hot = Dedup.hotBuckets(mh, cap = 10).collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(1) >= 20))
    // planted true duplicates still pair under the cap (their buckets are
    // small), so the guardrail costs nothing on healthy data
    val pairs = Dedup.minhashNearDupPairs(planted, maxBucketSize = Some(10))
      .filter(col("jaccard") === 1.0).count()
    assert(pairs > 0)
  }

  test("lshBucket kernel matches the per-plane declarative folds exactly") {
    import spark.implicits._
    val rng = new scala.util.Random(19)
    val rows = (1 to 300).map(i =>
      (i.toLong, Seq.fill(16)((rng.nextDouble() - 0.5).toFloat)))
      .toDF("id", "v")
    val got = rows.select(col("id"),
      Similarity.lshBucket(col("v"), 8, 16).as("k"),
      SimilarityWitness.lshBucketDeclarative(col("v"), 8, 16).as("d"))
      .collect()
    got.foreach(r => assert(r.getInt(1) == r.getInt(2), s"id ${r.getLong(0)}"))
    assert(got.map(_.getInt(1)).distinct.length > 1) // buckets do spread
    // null element / length mismatch -> every projection nulls -> bucket 0
    val edge = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(CAST(NULL AS FLOAT), 1.0F)),
        |  (2L, array(1.0F, 2.0F, 3.0F))
        |AS t(id, v)""".stripMargin)
      .select(col("id"),
        Similarity.lshBucket(col("v"), 4, 2).as("k"),
        SimilarityWitness.lshBucketDeclarative(col("v"), 4, 2).as("d"))
      .collect()
    edge.foreach(r => assert(r.getInt(1) == 0 && r.getInt(2) == 0, r.toString))
    // NaN projections: Spark's when(proj > 0) is TRUE for NaN — kernel
    // and witness must set the same bits
    val nan = spark.sql("SELECT array(CAST('NaN' AS FLOAT), 1.0F) AS v")
      .select(Similarity.lshBucket(col("v"), 4, 2).as("k"),
        SimilarityWitness.lshBucketDeclarative(col("v"), 4, 2).as("d"))
      .head()
    assert(nan.getInt(0) == nan.getInt(1), s"NaN parity: $nan")
  }

  test("quantized top-k: high recall vs full precision, 4x smaller storage") {
    import graft.operators.Embeddings
    val corpus = embeddings
    val queries = corpus.filter(col("vec_id") < 10)
    val k = 10
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(queries, corpus, k))
    val quant = pairs(Similarity.quantizedTopK(queries, corpus, k))
    val recall = (exact & quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@$k = $recall")
    // storage: byte codes land ~4x smaller than float32 on parquet
    val dir = java.nio.file.Files.createTempDirectory("graft-q8").toString
    corpus.select(col("vec_id"), col("embedding"))
      .write.mode("overwrite").parquet(dir + "/full")
    Embeddings.quantizeForStorage(corpus)
      .write.mode("overwrite").parquet(dir + "/q8")
    def bytes(p: String) = new java.io.File(p).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
    val ratio = bytes(dir + "/full").toDouble / bytes(dir + "/q8")
    assert(ratio > 2.5, s"storage ratio $ratio")
    // dequantized vectors stay close: cosine(full, dequant) ~ 1
    val back = Embeddings.quantizeForStorage(corpus)
      .join(corpus, "vec_id")
      .select(Similarity.cosine(
        Embeddings.dequantize(col("codes"), col("scale")),
        col("embedding")).as("c"))
      .agg(min(col("c"))).head.getDouble(0)
    assert(back > 0.999, s"min cosine after dequant $back")
  }

  test("lshTopK returns a subset of brute-force results with equal scores") {
    val q = embeddings.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, embeddings, k = 50)
      .select("query_id", "neighbor_id", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ann = Similarity.lshTopK(q, embeddings, k = 50, numPlanes = 4)
      .select("query_id", "neighbor_id", "cosine").collect()
    assert(ann.nonEmpty)
    ann.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      // every ANN hit must be a real neighbor with the exact same score
      assert(brute.get(key).forall(_ == r.getDouble(2)))
    }
  }

  test("keep-best component policy: argmax score, ties to lowest id") {
    import spark.implicits._
    // comp 10: scores 5 < 9 -> keep id 12; comp 20: tie at 7 -> keep the
    // LOWER id 21; comp 30: singleton
    val comps = Seq((11L, 10L), (12L, 10L), (21L, 20L), (22L, 20L), (31L, 30L))
      .toDF("id", "comp")
    val scores = Seq((11L, 5L), (12L, 9L), (21L, 7L), (22L, 7L), (31L, 1L))
      .toDF("id", "score")
    val out = Dedup.keepBestPerComponent(comps, scores)
      .orderBy(col("comp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((10L, 9L, 12L, 2L), (20L, 7L, 21L, 2L), (30L, 1L, 31L, 1L)))
  }

  test("hard negatives exclude same-label neighbors entirely") {
    val e = embeddings
    val out = Similarity.hardNegatives(e.filter(col("vec_id") < 10), e, k = 5)
    // join back the labels: every (query, neighbor) pair must differ
    val q = e.select(col("vec_id").as("query_id"), col("label").as("ql"))
    val n = e.select(col("vec_id").as("neighbor_id"), col("label").as("nl"))
    val sameLabel = out.join(q, "query_id").join(n, "neighbor_id")
      .filter(col("ql") === col("nl")).count()
    assert(sameLabel == 0L)
    // and each query got a full k (corpus has both labels at sf0.001)
    val perQuery = out.groupBy(col("query_id")).count().collect()
    assert(perQuery.nonEmpty && perQuery.forall(_.getLong(1) == 5L))
    // the top hard negative is the brute-force top-1 after filtering:
    // ranks within a query strictly increase with falling cosine
    val bad = out.as("a").join(out.as("b"),
      col("a.query_id") === col("b.query_id") &&
      col("a.rank") < col("b.rank") && col("a.cosine") < col("b.cosine")).count()
    assert(bad == 0L)
  }

  test("cosine of a vector with itself is ~1.0") {
    val r = embeddings.limit(3)
      .select(Similarity.cosine(col("embedding"), col("embedding")).as("c"))
      .collect()
    r.foreach(row => assert(math.abs(row.getDouble(0) - 1.0) < 1e-9))
  }

  test("incremental near-dup admission: store dups, batch dups, fresh docs") {
    import spark.implicits._
    // store holds doc 1; batch brings a near-dup of it (11), a fresh
    // pair of mutual dups (20 < 21: min id wins), and a unique doc (30)
    val text1 = "alpha beta gamma delta epsilon zeta eta theta"
    val text2 = "one two three four five six seven eight nine"
    val store = Seq((1L, text1)).toDF("doc_id", "text")
    val batch = Seq(
      (11L, text1),              // near-dup of store doc 1 -> rejected
      (20L, text2),              // first of a within-batch dup pair -> kept
      (21L, text2),              // within-batch dup of 20 -> rejected
      (30L, "totally different words entirely unique content here"))
      .toDF("doc_id", "text")
    val storeMh = Dedup.minhashed(store, "doc_id", "text", 3, 12, 3)
    val pairs = Dedup.incrementalNearDupPairs(
      Dedup.minhashed(batch, "doc_id", "text", 3, 12, 3), storeMh)
    assert(pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((11L, 1L)))
    val admitted = Dedup.admitNearDupFree(batch, storeMh)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == Set(20L, 30L))
  }

  test("incremental near-dup hot-bucket cap drops over-cap buckets only") {
    import spark.implicits._
    // 5 store + 5 batch copies of one text: every band bucket holds 10
    // docs; cap=4 suppresses them all, cap=100 keeps them
    val t = "same boilerplate text in every single copy here now"
    val store = (1L to 5L).map(i => (i, t)).toDF("doc_id", "text")
    val batch = (101L to 105L).map(i => (i, t)).toDF("doc_id", "text")
    val sMh = Dedup.minhashed(store, "doc_id", "text", 3, 12, 3)
    val bMh = Dedup.minhashed(batch, "doc_id", "text", 3, 12, 3)
    assert(Dedup.incrementalNearDupPairs(bMh, sMh,
      maxBucketSize = Some(4)).count() == 0)
    assert(Dedup.incrementalNearDupPairs(bMh, sMh,
      maxBucketSize = Some(100)).count() == 25)
  }

  test("semantic dedup prunes within-list near-identicals, cap exempts hot lists") {
    import spark.implicits._
    // hand-built assignments: two lists. List 0 holds a dup pair
    // (identical vectors) + one distinct; list 1 holds two distinct.
    val assignments = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0),
      (5L, Seq(1.0, 0.0, 0.0), 0),   // dup of 1 -> dropped (higher id)
      (3L, Seq(0.0, 1.0, 0.0), 0),
      (7L, Seq(0.0, 0.0, 1.0), 1),
      (9L, Seq(0.6, 0.8, 0.0), 1))
      .toDF("id", "v", "list_id")
    val (kept, skipped) = Similarity.semanticDedup(assignments, threshold = 0.99)
    assert(kept.select("id").collect().map(_.getLong(0)).toSet
      == Set(1L, 3L, 7L, 9L))
    assert(skipped.count() == 0)
    // cap=2: list 0 (3 members) is exempt -> nothing pruned, accounted
    val (keptCap, skippedCap) = Similarity.semanticDedup(assignments,
      threshold = 0.99, maxListSize = Some(2))
    assert(keptCap.count() == 5)
    assert(skippedCap.collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      == Seq((0, 3L)))
    // greedy shadowing: b dups a, c dups b but not a -> both b, c go
    val chain = Seq(
      (1L, Seq(1.0, 0.0, 0.0), 0),
      (2L, Seq(0.9806, 0.1961, 0.0), 0),  // cos(1,2) ~ 0.9806
      (3L, Seq(0.9231, 0.3846, 0.0), 0))  // cos(2,3) ~ 0.981, cos(1,3) ~ 0.923
      .toDF("id", "v", "list_id")
    val (keptChain, _) = Similarity.semanticDedup(chain, threshold = 0.97)
    assert(keptChain.select("id").collect().map(_.getLong(0)).toSet == Set(1L))
  }

  test("minhash store round-trip: the run-over-run near-dup admission loop") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mhstore").toString
    def mh(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashed(d, "doc_id", "text", 3, 12, 3)
    val t1 = "alpha beta gamma delta epsilon zeta eta theta"
    val t2 = "one two three four five six seven eight nine"
    // run 1: empty-store bootstrap — admit everything, persist
    val b1 = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
    graft.sources.MinHashStore.write(mh(b1), dir)
    // run 2: a dup of doc 1 plus a fresh doc, admitted against the store
    val b2 = Seq((11L, t1), (12L, "totally new content words here now"))
      .toDF("doc_id", "text")
    val store = graft.sources.MinHashStore.read(spark, dir)
    val admitted = Dedup.admitNearDupFree(b2, store)
    val ids = admitted.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(12L))
    graft.sources.MinHashStore.append(spark, dir,
      mh(b2.join(admitted.select("doc_id"), Seq("doc_id"))))
    // run 3: dups of BOTH generations' docs are rejected
    val b3 = Seq((21L, t2), (22L, "totally new content words here now"),
      (23L, "never seen before anywhere at all")).toDF("doc_id", "text")
    val admitted3 = Dedup.admitNearDupFree(b3,
      graft.sources.MinHashStore.read(spark, dir))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted3 == Set(23L))
    // crash-safety: a half-written generation (no _SUCCESS) is invisible
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/gen=99/_temporary"))
    assert(graft.sources.MinHashStore.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L, 12L))
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/gen=99"), true)
    // reset on an appended-to store must become THE visible store (a
    // fixed gen=0 would sit below the current generation, unreachable)
    graft.sources.MinHashStore.write(
      mh(Seq((50L, "reset corpus only doc")).toDF("doc_id", "text")), dir)
    assert(graft.sources.MinHashStore.read(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet == Set(50L))
    // append retires lazily: the PREVIOUS generation survives one cycle
    // (live lazy readers), older ones are dropped
    graft.sources.MinHashStore.append(spark, dir,
      mh(Seq((51L, "second corpus doc here")).toDF("doc_id", "text")))
    val gens = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).filter(_.startsWith("gen=")).sorted
    assert(gens.length == 2, gens.mkString(","))
  }

  test("similarityJoin == brute-force threshold pairs at every threshold") {
    // the prefix filter must be COMPLETE (no pair above t missed) and
    // the verify EXACT — compare against the quadratic reference the
    // operator exists to avoid, across thresholds incl. the exact-dup
    // t = 1000 (where the prefix shrinks to a single rarest shingle)
    import spark.implicits._
    val rnd = new scala.util.Random(195L)
    val vocab = Vector("a", "bb", "ccc", "dd", "e", "ff", "g", "hh",
      "iii", "jj", "kk", "lll")
    val docs = (0 until 60).map { i =>
      val len = 5 + rnd.nextInt(10)
      (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // plant an exact duplicate and a near duplicate
    val planted = docs ++ Seq((100L, docs(3)._2),
      (101L, docs(5)._2 + " extra"))
    val df = planted.toDF("doc_id", "text")
    def shinglesOf(text: String): Set[String] = {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      if (toks.length < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    for (t <- Seq(300, 500, 800, 1000)) {
      val got = Dedup.similarityJoin(df, tMilli = t).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val expected = (for {
        (ia, ta) <- planted; (ib, tb) <- planted if ia < ib
        sa = shinglesOf(ta); sb = shinglesOf(tb)
        inter = (sa & sb).size.toLong
        un = sa.size + sb.size - inter
        if 1000L * inter >= t.toLong * un
      } yield (ia, ib, inter, un, 1000L * inter / un)).toSet
      assert(got == expected, s"divergence at t=$t")
      if (t == 1000)
        assert(expected.contains((3L, 100L,
          shinglesOf(docs(3)._2).size.toLong,
          shinglesOf(docs(3)._2).size.toLong, 1000L)),
          "planted exact dup must survive t=1000")
    }
  }

  test("prefixRefineTopK: full-width prefix + full shortlist == brute force") {
    // prefixDims = dim makes the coarse pass exact, shortK >= corpus
    // makes the shortlist total — refinement must equal bruteForceTopK
    // bitwise (cosines AND ranks); coarse_cosine == cosine row-for-row
    import spark.implicits._
    val rnd = new scala.util.Random(194L)
    val df = (0 until 40).map(i =>
      (i.toLong, Seq.fill(8)((rnd.nextInt(2000) - 1000) / 997.0)))
      .toDF("vec_id", "embedding")
    val queries = df.filter(col("vec_id") < 6)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getInt(r.length - 1), r.getLong(1), r.getDouble(2))
    val brute = Similarity.bruteForceTopK(queries, df, k = 5)
      .collect().map(key).toSet
    val refined = Similarity.prefixRefineTopK(queries, df,
      prefixDims = 8, shortK = 40, k = 5).collect()
    assert(refined.map(key).toSet == brute)
    refined.foreach(r => assert(r.getDouble(2) == r.getDouble(3),
      "full-width coarse pass must equal the fine cosine"))
    // a genuine 2-dim prefix still yields k dense ranks per query
    val narrow = Similarity.prefixRefineTopK(queries, df,
      prefixDims = 2, shortK = 10, k = 5).collect()
    narrow.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.map(_.getInt(4)).sorted.toSeq == (1 to 5))
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.prefixRefineTopK(queries, df, prefixDims = 2,
        shortK = 3, k = 5)
    }
    assert(e.getMessage.contains("must cover"))
  }

  test("corpus diff classifies added/removed/changed/unchanged") {
    import spark.implicits._
    val old = Seq((1L, "stable text"), (2L, "will change"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val nw = Seq((1L, "STABLE  text"), (2L, "has changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val got = graft.operators.CorpusOps.corpusDiff(old, nw)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1: same after case/whitespace normalization -> unchanged
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }
}
