package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{CorpusOps, CorpusOpsWitness}

/** CorpusOps semantics the q65-q68 oracles can't exercise: the hot-gram
  * cap accounting, split stability under corpus growth, and the packing
  * overflow rule. */
class CorpusOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("corpus-spec", "4").getOrCreate()
  import spark.implicits._

  test("decontamination hot-gram cap drops boilerplate and accounts for it") {
    // 30 bench docs all sharing one boilerplate 8-gram; 2 bench docs with
    // a unique contaminated phrase copied into train
    val boiler = "this exact license header appears in every single file"
    val bench = ((1 to 30).map(i => (i.toLong, s"$boiler unique tail $i")) ++
      Seq((100L, "a very specific secret eval question about spark internals here"),
        (101L, "another held out benchmark prompt that trains must not contain ok")))
      .toDF("doc_id", "text")
    val train = Seq(
      (900L, "a very specific secret eval question about spark internals here"),
      (901L, s"$boiler but nothing else shared")).toDF("doc_id", "text")

    // uncapped: the boilerplate gram links train doc 901 to all 30 docs
    val uncapped = CorpusOps.ngramContamination(train, bench, n = 8)
    assert(uncapped.filter(col("train_id") === 901L).count() == 30)
    // capped at 10: boilerplate matches vanish, the real hit stays
    val capped = CorpusOps.ngramContamination(train, bench, n = 8, maxDf = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!capped.exists(_._1 == 901L))
    assert(capped.contains((900L, 100L)))
    // and the accounting reports exactly the dropped gram's df
    val hot = CorpusOps.contaminationHotGrams(bench, n = 8, cap = 10).collect()
    assert(hot.nonEmpty && hot.forall(_.getLong(1) == 30L))
  }

  test("bloom contamination: identical output to exact join, grams pruned") {
    val dir = "/root/testdata/sf0.001"
    val d = graft.core.Tables(spark, dir).documents
    val bench = d.filter(col("doc_id") % 30 === 0).select(col("doc_id"), col("text"))
    val train = d.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))

    // 1. the Bloom path and the exact path agree row-for-row
    val exact = CorpusOps.ngramContamination(train, bench, n = 8, maxDf = Some(20))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val bloomed = CorpusOps.bloomContamination(train, bench, n = 8,
      maxDf = Some(20), fpp = 0.03)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bloomed == exact)
    assert(exact.nonEmpty) // the planted corpus guarantees hits

    // 2. the prefilter actually prunes: candidate grams passing the Bloom
    // are a small fraction of all train grams (this corpus is mostly
    // clean), yet include every gram that truly matches.
    val bytes = CorpusOps.benchGramBloomBytes(bench, n = 8, maxDf = Some(20),
      fpp = 0.03)
    val tg = train.select(col("doc_id").as("train_id"),
      explode(array_distinct(
        graft.functions.TextFunctions.wordShingles(col("text"), 8))).as("g"))
    val total = tg.count()
    val candidates = tg.filter(CorpusOps.bloomMightContain(bytes, col("g"))).count()
    val trueMatching = tg.join(
      CorpusOps.benchGramTable(bench, n = 8, maxDf = Some(20)), Seq("g")).count()
    assert(candidates >= trueMatching)      // no false negatives, ever
    assert(candidates < total / 2,
      s"bloom pruned nothing: $candidates of $total grams passed")
  }

  test("approx length quantiles honor the GK rank-error contract") {
    val dir = "/root/testdata/sf0.01"
    val docs = graft.core.Tables(spark, dir).documents
    val accuracy = 1000
    val approx = CorpusOps.lengthQuantilesApprox(docs, "lang", accuracy)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // per group: the true rank of each returned value must be within
    // n/accuracy (+1 slack for rank-definition off-by-one) of the target
    val lens = docs.select(col("lang"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("len"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).sorted }
    for ((g, sortedLens) <- lens) {
      val (n, mn, med, p90, mx) = approx(g)
      assert(n == sortedLens.length && mn == sortedLens.head && mx == sortedLens.last)
      val tol = n.toDouble / accuracy + 1
      def rankRange(v: Long): (Int, Int) =  // ranks occupied by value v
        (sortedLens.indexWhere(_ >= v) + 1, sortedLens.lastIndexWhere(_ <= v) + 1)
      val (medLo, medHi) = rankRange(med)
      assert(medLo - tol <= 0.5 * n && 0.5 * n <= medHi + tol,
        s"$g median $med rank [$medLo,$medHi] vs target ${0.5 * n} +- $tol")
      val (p90Lo, p90Hi) = rankRange(p90)
      assert(p90Lo - tol <= 0.9 * n && 0.9 * n <= p90Hi + tol,
        s"$g p90 $p90 rank [$p90Lo,$p90Hi] vs target ${0.9 * n} +- $tol")
    }
  }

  test("bloom store round-trips; gate is conservative and streaming-legal") {
    val bench = Seq(
      (100L, "a very specific secret eval question about spark internals here"))
      .toDF("doc_id", "text")
    val bytes = CorpusOps.benchGramBloomBytes(bench, n = 8, fpp = 0.01)

    // store round-trip through the Hadoop FS API
    val path = java.nio.file.Files.createTempDirectory("graft-bloomstore")
      .resolve("bench.bloom").toString
    graft.sources.BloomStore.write(spark, bytes, path)
    val back = graft.sources.BloomStore.read(spark, path)
    assert(java.util.Arrays.equals(bytes, back))
    // overwrite is atomic-rename, old generation replaced
    graft.sources.BloomStore.write(spark, bytes ++ Array(0.toByte), path)
    assert(graft.sources.BloomStore.read(spark, path).length == bytes.length + 1)

    // gate: the contaminated doc ALWAYS drops (no false negatives);
    // this fixture's clean docs pass (deterministic given fixed data)
    val docs = Seq(
      (1L, "a very specific secret eval question about spark internals here"),
      (2L, "totally unrelated clean text with nothing shared at all okay"),
      (3L, "another clean document about entirely different things to discuss today"))
      .toDF("doc_id", "text")
    val admitted = CorpusOps.bloomContaminationGate(docs, back, n = 8)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(!admitted.contains(1L))
    assert(admitted == Set(2L, 3L))

    // streaming position: the gate is a per-row predicate, so it plans
    // inside a streaming query with no stateful operator
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String)]
    val q = CorpusOps.bloomContaminationGate(
      stream.toDF().toDF("doc_id", "text"), back, n = 8)
      .writeStream.format("memory").queryName("bloom_gate_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (1L, "a very specific secret eval question about spark internals here"),
        (2L, "totally unrelated clean text with nothing shared at all okay"))
      q.processAllAvailable()
      val got = spark.sql("SELECT doc_id FROM bloom_gate_out")
        .collect().map(_.getLong(0)).toSet
      assert(got == Set(2L))
    } finally q.stop()
  }

  test("chunk dedup: first occurrence survives, within and across docs") {
    // doc 1: chunk A + chunk B; doc 2: chunk A again (cross-doc dup) +
    // chunk C; doc 3: two copies of chunk D (within-doc dup at stride
    // boundaries). size=stride=4 -> non-overlapping 4-token chunks.
    val a = "w1 w2 w3 w4"; val b = "x1 x2 x3 x4"
    val c = "y1 y2 y3 y4"; val d = "z1 z2 z3 z4"
    val docs = Seq(
      (1L, s"$a $b"),
      (2L, s"$a $c"),
      (3L, s"$d $d")).toDF("doc_id", "text")
    val out = CorpusOps.chunkDedup(docs, size = 4, stride = 4)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out(0) == ((1L, 2L, 2L, 8L)))  // both chunks novel
    assert(out(1) == ((2L, 2L, 1L, 4L)))  // chunk A lost to doc 1
    assert(out(2) == ((3L, 2L, 1L, 4L)))  // second D lost to the first
  }

  test("chunk dedup rewrite reassembles survivors in order; rejects overlap") {
    val a = "w1 w2 w3 w4"; val b = "x1 x2 x3 x4"; val c = "y1 y2 y3 y4"
    val docs = Seq(
      (1L, s"$a $b"),          // both survive
      (2L, s"$c $a $b"),       // a and b lost to doc 1, c survives
      (3L, s"$b $b")           // both copies lost (doc 1 has b)
    ).toDF("doc_id", "text")
    val out = CorpusOps.chunkDedupRewrite(docs, size = 4, stride = 4)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out(0) == ((1L, 2L, 2L, s"$a $b")))
    assert(out(1) == ((2L, 3L, 1L, c)))       // order preserved, dups gone
    assert(out(2) == ((3L, 2L, 0L, "")))      // fully-dup doc -> empty text
    intercept[IllegalArgumentException] {
      CorpusOps.chunkDedupRewrite(docs, size = 4, stride = 3)
    }
  }

  test("streaming contamination gate flags docs against a static bench table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val bench = Seq(
      (100L, "a very specific secret eval question about spark internals here"))
      .toDF("doc_id", "text")
    val grams = CorpusOps.benchGramTable(bench, n = 8)
    val stream = MemoryStream[(Long, String)]
    val gated = CorpusOps.contaminationMatches(
      stream.toDF().toDF("doc_id", "text"), grams, n = 8)
    val q = gated.writeStream.format("memory").queryName("contam_out")
      .outputMode("append").start()
    try {
      stream.addData(
        (1L, "a very specific secret eval question about spark internals here"),
        (2L, "totally unrelated clean text with nothing shared at all okay"))
      q.processAllAvailable()
      val flagged = spark.sql("SELECT DISTINCT doc_id FROM contam_out")
        .collect().map(_.getLong(0)).sorted
      assert(flagged.toSeq == Seq(1L))
    } finally q.stop()
  }

  test("quality rollup gates: short, repetitive, top-2-gram, all exact") {
    val docs = Seq(
      // kept: 60 distinct tokens, no repetition
      (1L, "s0", (1 to 60).map(i => s"w$i").mkString(" ")),
      // short: 10 tokens
      (2L, "s0", (1 to 10).map(i => s"u$i").mkString(" ")),
      // repetitive: 60 tokens, 2 distinct -> rep_ratio ~0.97 > 0.2
      (3L, "s1", Array.fill(30)("spam ham").mkString(" ")),
      // top-2-gram dominated but NOT repetitive: distinct tokens with one
      // gram repeated via alternation is hard; use 100 distinct + a 30x
      // repeated pair -> distinct 102/160 (rep 0.3625 -> also rep-flagged)
      (4L, "s1", ((1 to 100).map(i => s"v$i") ++ Array.fill(30)("aa bb")).mkString(" "))
    ).toDF("doc_id", "source", "text")
    val out = CorpusOps.qualityRollup(docs, groupCol = "source",
      minTokens = 50, maxRepPermille = 200, maxTopGramPermille = 200)
      .orderBy(col("g")).collect()
    val s0 = out(0); val s1 = out(1)
    assert(s0.getString(0) == "s0" && s0.getLong(1) == 2)
    assert(s0.getLong(2) == 70)                    // 60 + 10 tokens
    assert(s0.getLong(3) == 1 && s0.getLong(4) == 0 && s0.getLong(5) == 0)
    assert(s0.getLong(6) == 1 && s0.getLong(7) == 500) // 1/2 kept
    assert(s1.getString(0) == "s1" && s1.getLong(1) == 2)
    assert(s1.getLong(4) == 2)                     // both repetitive
    assert(s1.getLong(6) == 0 && s1.getLong(7) == 0)
  }

  test("two-phase stratified sample equals the exact form, prunes big strata") {
    val docs = ((0L until 800L).map(i => (i, "big")) ++
      (1000L until 1020L).map(i => (i, "small"))).toDF("doc_id", "stratum")
    val exact = CorpusOps.stratifiedSample(docs, "stratum", k = 10)
      .select(col("doc_id"), col("stratum"), col("sample_rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val two = CorpusOps.stratifiedSampleTwoPhase(docs, "stratum", k = 10)
      .select(col("doc_id"), col("stratum"), col("sample_rank"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    assert(two == exact)
    // the big stratum's threshold really prunes: ~oversample*k of 800
    // survive phase 1 (bound generously; exact expectation is 40)
    val HashSpace = 4294967296L
    val thr = (HashSpace * 40 + 800 - 1) / 800
    val survivors = docs.filter(col("stratum") === "big")
      .filter(conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") < thr).count()
    assert(survivors >= 10 && survivors < 120, s"got $survivors")
    // a stratum smaller than oversample*k keeps all of top-k exactly
    assert(two.count(_._2 == "small") == 10)
  }

  test("streaming quality rollup accumulates per-source gates across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val stream = MemoryStream[(Long, String, String)]
    val rolled = CorpusOps.qualityRollup(
      stream.toDF().toDF("doc_id", "source", "text"),
      groupCol = "source", minTokens = 5)
    val q = rolled.writeStream.format("memory").queryName("qr_out")
      .outputMode("complete").start()
    try {
      stream.addData(
        (1L, "s0", "one two three four five six seven"),
        (2L, "s0", "tiny"))
      q.processAllAvailable()
      stream.addData(
        (3L, "s0", "also tiny"),
        (4L, "s1", "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT g, n_docs, n_short, n_kept FROM qr_out ORDER BY g").collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq == Seq(("s0", 3L, 2L, 1L), ("s1", 1L, 0L, 1L)))
    } finally q.stop()
  }

  test("training order: dense 1..N ranks equal to the naive global sort") {
    import org.apache.spark.sql.expressions.Window
    val docs = (0L until 3000L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val got = CorpusOps.trainingOrder(docs, prefixChars = 1)
      .select(col("doc_id"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val naive = docs.withColumn("pos",
      row_number().over(Window.orderBy(
        md5(col("doc_id").cast("string")).asc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == naive)
    assert(got.values.min == 1L && got.values.max == 3000L &&
      got.values.toSet.size == 3000)
  }

  test("training order: epochs reshuffle deterministically, stay dense") {
    val docs = (0L until 500L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    def order(e: Option[Long]) = CorpusOps.trainingOrder(docs, epoch = e)
      .select(col("doc_id"), col("pos"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val e1 = order(Some(1L)); val e1again = order(Some(1L)); val e2 = order(Some(2L))
    assert(e1 == e1again)                       // same epoch -> same order
    assert(e1 != e2)                            // epochs genuinely reshuffle
    assert(e2.values.min == 1L && e2.values.max == 500L &&
      e2.values.toSet.size == 500)              // still a dense permutation
  }

  test("windowed quality rollup: event-time windows x source") {
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val docs = Seq(
      (1L, "s0", ts(1), (1 to 60).map(i => s"w$i").mkString(" ")),
      (2L, "s0", ts(2), "short"),
      (3L, "s0", ts(12), (1 to 60).map(i => s"v$i").mkString(" ")))
      .toDF("doc_id", "source", "ts", "text")
    val out = CorpusOps.qualityRollupCols(
      docs.withColumn("w", window(col("ts"), "10 minutes")),
      groupCols = Seq("w", "source"))
      .orderBy(col("w.start"))
      .select(col("n_docs"), col("n_short"), col("n_kept")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((2L, 1L, 1L), (1L, 0L, 1L)))
  }

  test("token budget: exact rates, caps, infeasible sources flagged") {
    val docs = Seq(
      (1L, "big", (1 to 100).map(i => s"w$i").mkString(" ")),  // 100 tokens
      (2L, "big", (1 to 100).map(i => s"u$i").mkString(" ")),  // 100 tokens
      (3L, "tiny", "only four tokens here"),                   // 4 tokens
      (4L, "skip", "never sampled at all")                     // share 0
    ).toDF("doc_id", "source", "text")
    val out = CorpusOps.tokenBudget(docs, budgetTokens = 1000L,
      sharesPermille = Map("big" -> 100, "tiny" -> 100, "skip" -> 0))
      .orderBy(col("source")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(out == Seq(
      // big: 200 avail, needs 100 -> ceil(100*1000/200) = 500 permille
      ("big", 200L, 100L, 500L, true),
      // skip: share 0 -> rate 0, trivially feasible
      ("skip", 4L, 0L, 0L, true),
      // tiny: 4 avail, needs 100 -> rate capped at 1000, infeasible
      ("tiny", 4L, 100L, 1000L, false)))
  }

  test("hash split is stable when the corpus grows") {
    val small = (0L until 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val large = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = CorpusOps.hashSplit(small).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = CorpusOps.hashSplit(large).select("doc_id", "split")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    a.foreach { case (id, s) => assert(b(id) == s) } // growth never reshuffles
    assert(b.values.toSet == Set("train", "val", "test"))
  }

  test("repetition kernel matches the declarative explode formulation") {
    val edge = Seq(
      (900001L, ""), (900002L, "   \t "), (900003L, "solo"),
      (900004L, "a a a a a a"), (900005L, "a b a b a b a"),
      (900006L, "日本語 テキスト 日本語 テキスト"), (900007L, "x\ty\nz  x y"))
      .toDF("doc_id", "text")
    val corpus = graft.core.Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text")).unionByName(edge)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toMap
    val k = key(CorpusOps.repetitionSignals(corpus))
    val d = key(CorpusOpsWitness.repetitionSignalsDeclarative(corpus))
    assert(k.keySet == d.keySet)
    k.foreach { case (id, v) => assert(d(id) == v, s"doc $id: $v vs ${d(id)}") }
    // sanity on the edge semantics
    assert(k(900004L)._3 == 1.0 - 1.0 / 6.0)  // heavy repetition
    assert(k(900003L)._1 == 1 && k(900003L)._2 == 1)
    // the kernel's n_distinct_grams matches the declarative
    // size(array_distinct(wordShingles)) on the same corpus, incl. the
    // degenerate single-gram convention for sub-2-token docs
    val kg = corpus.select(col("doc_id"),
        graft.functions.RepetitionStatsExpr.of(col("text"))
          .getField("n_distinct_grams").as("g"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dg = corpus.select(col("doc_id"),
        size(array_distinct(graft.functions.TextFunctions
          .wordShingles(col("text"), 2))).as("g"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(kg == dg)
    assert(kg(900004L) == 1 && kg(900003L) == 1 && kg(900005L) == 2)
  }

  test("chunking: overlap arithmetic, short docs, empty docs") {
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 100 tokens
      (2L, "a b c"),                                    // shorter than size
      (3L, "   \t  "),                                  // zero tokens
      (4L, "solo")).toDF("doc_id", "text")
    val got = CorpusOps.chunkTokens(docs, size = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // doc 1: starts at 0, 48, 96 -> chunks of 64, 52, and 4 tokens
    assert(got((1L, 0L)) == 64 && got((1L, 1L)) == 52 && got((1L, 2L)) == 4)
    assert(got((2L, 0L)) == 3)
    assert(got((4L, 0L)) == 1)
    assert(!got.keySet.exists(_._1 == 3L)) // empty doc -> no chunks
    assert(got.size == 5)
  }

  test("length quantiles: rank selection on tiny and even-sized groups") {
    val docs = Seq(
      (1L, "a", "g1"), (2L, "a b", "g1"), (3L, "a b c", "g1"), (4L, "a b c d", "g1"),
      (5L, "x", "g2")).toDF("doc_id", "text", "lang")
    val got = CorpusOps.lengthQuantiles(docs, groupCol = "lang")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // g1: lens 1,2,3,4 -> median rank ceil(4/2)=2 -> 2; p90 rank ceil(3.6)=4 -> 4
    assert(got("g1") == (4L, 1L, 2L, 4L, 4L))
    // g2: single doc -> all quantiles = its length
    assert(got("g2") == (1L, 1L, 1L, 1L, 1L))
  }

  test("incremental dedup: store round-trip suppresses the second run") {
    import graft.operators.Dedup
    val batch1 = Seq((1L, "alpha text"), (2L, "beta text"), (3L, "alpha  text"))
      .toDF("doc_id", "text") // doc 3 = doc 1 modulo whitespace
    val empty = Seq.empty[String].toDF("fp")
    val run1 = Dedup.incrementalDedup(batch1, empty)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(run1.toSeq == Seq(1L, 2L)) // first-id wins inside the batch
    val store1 = Dedup.updatedFingerprintStore(empty, batch1)
    // second run: one repeat, one genuinely new doc
    val batch2 = Seq((10L, "ALPHA TEXT"), (11L, "gamma text")).toDF("doc_id", "text")
    val run2 = Dedup.incrementalDedup(batch2, store1)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(run2.toSeq == Seq(11L)) // case-normalized repeat suppressed
    assert(Dedup.updatedFingerprintStore(store1, batch2).count() == 3)
  }

  test("corpus mixing: rates honored, deterministic, composable with splits") {
    val docs = (0L until 2000L).map(i => (i, s"src${i % 2}", s"d$i"))
      .toDF("doc_id", "source", "text")
    val kept = CorpusOps.mixSources(docs, Map("src0" -> 250, "src1" -> 1000))
    val bySrc = kept.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("src1") == 1000L)             // full rate keeps everything
    val frac = bySrc("src0").toDouble / 1000.0 // ~25% within hash tolerance
    assert(frac > 0.18 && frac < 0.32, s"src0 kept $frac")
    // rerun == same rows (no RNG), and zero-rate drops a source entirely
    assert(CorpusOps.mixSources(docs, Map("src0" -> 250, "src1" -> 1000))
      .count() == kept.count())
    assert(CorpusOps.mixSources(docs, Map("src0" -> 0, "src1" -> 0)).count() == 0)
  }

  test("dropNearDuplicates keeps exactly the canonical member per cluster") {
    import graft.operators.Dedup
    val docs = (1L to 6L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDuplicates(docs, pairs)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 4L, 5L)) // chain -> 1; island 4; pair -> 5
  }

  test("pointer-doubling components == propagation components (random graph + fixture shapes)") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(210L)
    val n = 500L
    val ids = (0L until n).toDF("id")
    // sparse random edges + a bridge + isolated nodes (ids with no edge)
    val edges = ((0 until 300).map(_ =>
      (rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
      .filter { case (a, b) => a != b } :+ (398L, 399L))
      .toDF("id_a", "id_b")
    // the reference needs diameter-many rounds — this near-threshold
    // random graph exceeds the 20-round default (itself evidence for
    // the doubling variant); 500 is safely past any 400-node diameter
    val prop = Dedup.connectedComponents(ids, edges, maxIter = 500,
      localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dbl = Dedup.connectedComponentsDoubling(ids, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dbl == prop, s"doubling != propagation")
    assert((400L until n).forall(i => dbl(i) == i), "isolated nodes keep own id")
  }

  test("pointer-doubling converges in log rounds on a chain the propagation bound cannot close") {
    import graft.operators.Dedup
    // a 3000-node path: diameter 2999 — min-label propagation needs
    // ~3000 rounds (the default 20-round bound throws), doubling closes
    // it in ~log2(3000) + change-detection rounds
    val n = 3000L
    val ids = (0L until n).toDF("id")
    val chain = (0L until n - 1).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      // maxIter 20 < diameter
      Dedup.connectedComponents(ids, chain, localFinishEdges = 0)
    }
    val (comps, rounds) =
      Dedup.connectedComponentsDoublingWithRounds(ids, chain)
    val got = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      "one component labeled by the minimum id")
    assert(rounds <= 15, s"doubling took $rounds rounds on diameter ${n - 1}")
  }

  test("mergeComponents: incremental fold equals from-scratch CC") {
    import graft.operators.Dedup
    // run 1: ids 1-10; comps {1,2,3} (chain), {5,6} (pair), singletons
    val storeIds = (1L to 10L).toDF("id")
    val storePairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val store = Dedup.connectedComponents(storeIds, storePairs)
    // run 2: ids 11-15. New edges: 11 BRIDGES comps {1,2,3} and {5,6}
    // (a cross-run merge through a new node), 12-13 pair among
    // themselves only, 14 attaches to untouched singleton 9; 15 stays
    // a singleton. Comp {7..} untouched entirely.
    val newIds = (11L to 15L).toDF("id")
    val newPairs = Seq((11L, 3L), (11L, 5L), (12L, 13L), (14L, 9L))
      .toDF("id_a", "id_b")
    val merged = Dedup.mergeComponents(store, newIds, newPairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(
      storeIds.unionByName(newIds), storePairs.unionByName(newPairs))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == scratch,
      s"incremental != from-scratch:\n$merged\n$scratch")
    // and the specific shapes: the bridge united both store comps under
    // canonical 1; untouched singletons kept their labels
    assert(merged(5L) == 1L && merged(11L) == 1L)
    assert(merged(12L) == 12L && merged(13L) == 12L)
    assert(merged(9L) == 9L && merged(14L) == 9L)
    assert(merged(7L) == 7L && merged(15L) == 15L)
    assert(merged.size == 15)
  }

  test("incremental components: hot-bucket cap evaluated on the combined population") {
    import graft.operators.Dedup
    // planted boundary bucket: 60 store + 60 batch docs share identical
    // boilerplate text, so every band bucket they occupy holds 120 docs —
    // hot at cap 100 on the COMBINED population while neither side alone
    // crosses it (the q123 cap-semantics landmine). A second, small
    // near-dup cluster spans store and batch through a cold bucket.
    val boiler = "the same boilerplate license header text repeated in every page " * 3
    val rare = "a genuinely unique near duplicate cluster of four documents"
    val storeDocs = ((0L until 120L by 2).map(i => (i, boiler)) ++
      Seq((200L, rare), (202L, rare))).toDF("doc_id", "text")
    val batchDocs = ((1L until 120L by 2).map(i => (i, boiler)) ++
      Seq((201L, rare), (203L, rare))).toDF("doc_id", "text")
    val cap = 100
    val mh = Dedup.minhashed(storeDocs.unionByName(batchDocs), "doc_id", "text",
      shingleSize = 3, numHashes = 12, rowsPerBand = 3).persist()
    try {
      val storeMh = mh.filter(col("id") % 2 === 0)
      val batchMh = mh.filter(col("id") % 2 =!= 0)
      // the boundary really is a boundary: per-side populations are cold,
      // the combined population is hot
      assert(Dedup.hotBuckets(storeMh, cap).count() == 0)
      assert(Dedup.hotBuckets(batchMh, cap).count() == 0)
      assert(Dedup.hotBuckets(mh, cap).count() > 0)
      // from-scratch truth: cap applied to the full corpus
      val scratch = Dedup.connectedComponents(mh.select(col("id")),
        Dedup.nearDupPairsFromMinhashed(mh, threshold = 0.5,
          maxBucketSize = Some(cap)).select(col("id_a"), col("id_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // incremental solve: all three pair populations share ONE hot set
      // computed over store ∪ batch
      val hot = Some(Dedup.hotBuckets(mh, cap).select(col("bk")))
      val store = Dedup.connectedComponents(storeMh.select(col("id")),
        Dedup.nearDupPairsFromMinhashed(storeMh, threshold = 0.5,
          hotBucketKeys = hot).select(col("id_a"), col("id_b")))
      val cross = Dedup.incrementalNearDupPairs(batchMh, storeMh,
        threshold = 0.5, hotBucketKeys = hot)
        .select(col("new_id").as("id_a"), col("store_id").as("id_b"))
      val within = Dedup.lshCandidatePairs(batchMh, hotBucketKeys = hot)
        .withColumn("j", Dedup.jaccard(col("sh_a"), col("sh_b")))
        .filter(col("j") >= 0.5).select(col("id_a"), col("id_b"))
      val merged = Dedup.mergeComponents(store, batchMh.select(col("id")),
        cross.unionByName(within))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(merged == scratch,
        s"incremental != from-scratch at the cap boundary:\n$merged\n$scratch")
      // the hot bucket suppressed the boilerplate cluster entirely...
      assert((0L until 120L).forall(i => scratch(i) == i))
      // ...while the cold-bucket cluster still closed across store+batch
      assert(Seq(201L, 202L, 203L).forall(i => scratch(i) == 200L))
    } finally { mh.unpersist(); () }
  }

  test("connected components: chains close transitively, islands stay apart") {
    import graft.operators.Dedup
    val nodes = (1L to 9L).toDF("id")
    // chain 1-2-3-4 (diameter 3), pair 5-6, triangle 7-8-9, no edges for none
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 4L).forall(comp(_) == 1L)) // transitive closure, not 1 hop
    assert(comp(5L) == 5L && comp(6L) == 5L)
    assert((7L to 9L).forall(comp(_) == 7L))
    assert(comp.size == 9)
  }

  test("connected components: unlisted endpoints relay labels but emit no row") {
    import graft.operators.Dedup
    // node 2 is absent from `nodes`, yet 1-2 and 2-3 must still merge
    // 1 and 3 through it
    val nodes = Seq(1L, 3L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 3L -> 1L, 9L -> 9L))
    // a relay id SMALLER than every node id must not become the
    // representative: comp is remapped to the minimum NODE id, so the
    // keep-policy comp == id still keeps one member per cluster
    val low = Dedup.connectedComponents(
      Seq(3L, 5L).toDF("id"), Seq((0L, 3L), (0L, 5L)).toDF("id_a", "id_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(low == Map(3L -> 3L, 5L -> 3L))
  }

  test("connected components: empty edge set -> every node is its own comp") {
    import graft.operators.Dedup
    val nodes = (1L to 5L).toDF("id")
    val pairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == (1L to 5L).map(i => i -> i).toMap)
  }

  test("connected components: pair-only graph exits after 2 rounds") {
    import graft.operators.Dedup
    val nodes = (1L to 8L).toDF("id")
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("id_a", "id_b")
    val (comp, rounds) = Dedup.connectedComponentsWithRounds(nodes, pairs,
      localFinishEdges = 0)
    val m = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
    // the common near-dup case: one full propagation round, then one
    // frontier-only probe (3 changed labels, not the whole graph) that
    // finds nothing to improve — NOT a second full propagate+compare
    assert(rounds == 2, s"expected early exit after 2 rounds, got $rounds")
  }

  test("connected components: reliable checkpoint dir, identical components") {
    import graft.operators.Dedup
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    val nodes = (1L to 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("id_a", "id_b")
    val base = Dedup.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every round durable (pure-checkpoint path)
    val ck1 = Dedup.connectedComponents(nodes, pairs,
      checkpointDir = Some(dir), checkpointEvery = 1, localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ck1 == base)
    // mixed path: durable every 2nd round, lineage-bearing persist between
    val ck2 = Dedup.connectedComponents(nodes, pairs,
      checkpointDir = Some(dir), checkpointEvery = 2, localFinishEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ck2 == base)
    // the durable cuts were actually written
    val wrote = new java.io.File(dir).listFiles()
    assert(wrote != null && wrote.nonEmpty, s"no checkpoint data under $dir")
  }

  test("reliable checkpoints RECOVER: components survive loss of every in-memory block") {
    import graft.operators.Dedup
    val sc = spark.sparkContext
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-recover").toString
    // diameter-3 chain forces multiple rounds, so the run has BOTH durable
    // cuts (even rounds) and lineage-bearing persists (odd rounds) live
    // when the "executor loss" hits
    val nodes = (1L to 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L),
      (7L, 8L), (8L, 9L), (7L, 9L)).toDF("id_a", "id_b")
    def kill(before: Set[Int]): Unit =
      // drop every block this run created — cached DataFrames and
      // checkpoint/persist blocks alike — the local-mode equivalent of
      // losing the executors that held them
      sc.getPersistentRDDs.filterNot { case (id, _) => before(id) }
        .values.foreach(_.unpersist(blocking = true))
    // post-kill evaluations go through a FRESH execution: collect() on
    // the same Dataset would reuse its QueryExecution's already-
    // materialized AQE stages and never touch the killed blocks at all
    def freshCollect(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.where(lit(true)).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reliable mode: re-evaluating the plan after the kill must re-derive
    // odd rounds from their lineage, which bottoms out at the durable
    // checkpoint FILES on disk — identical components, no failure
    val beforeReliable = sc.getPersistentRDDs.keySet.toSet
    val comp = Dedup.connectedComponents(nodes, pairs,
      checkpointDir = Some(dir), checkpointEvery = 2, localFinishEdges = 0)
    val healthy = comp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    kill(beforeReliable)
    assert(freshCollect(comp) == healthy, "components changed across recovery")

    // sanity of the witness: the default localCheckpoint mode truncates
    // lineage, so the same kill makes re-evaluation IMPOSSIBLE — this is
    // exactly the unrecoverability the reliable mode exists to fix
    val beforeLocal = sc.getPersistentRDDs.keySet.toSet
    val volatileComp = Dedup.connectedComponents(nodes, pairs,
      localFinishEdges = 0)
    assert(volatileComp.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      == healthy)
    kill(beforeLocal)
    intercept[org.apache.spark.SparkException] { freshCollect(volatileComp) }
  }

  test("packing: contiguous fill, chunk isolation, long-doc truncation") {
    val docs = Seq(
      (0L, 300L), (1L, 300L), (2L, 300L),     // chunk 0: cum 300/600/900
      (3L, 9999L),                            // overlong: truncated to 512
      (150L, 100L), (151L, 100L))             // chunk 1 restarts packing
      .toDF("doc_id", "n_tokens")
    val got = CorpusOps.packChunked(docs, capacity = 512L, chunkSize = 100L)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got(0L) == (0L, 0L, 300L, 300L))          // starts in pack 0
    assert(got(1L) == (0L, 0L, 300L, 600L))          // starts at 300 < 512
    assert(got(2L) == (0L, 1L, 300L, 900L))          // starts at 600 -> pack 1
    assert(got(3L)._3 == 512L)                       // truncated to capacity
    assert(got(150L) == (1L, 1000000L, 100L, 100L))  // fresh chunk, fresh packs
    assert(got(151L)._4 == 200L)
  }

  test("quality funnel: first-fail attribution, cascade accounting") {
    // 6 docs: 2 fail stage a, 1 (already short) ALSO fails b but is
    // charged to a (first fail wins), 1 fails b only, 1 fails c, 1 passes
    val docs = Seq(
      (1L, "xx", 5L),         // fails a (and would fail b): charged to a
      (2L, "xx", 50L),        // fails a only
      (3L, "long enough", 5L),  // passes a, fails b
      (4L, "long enough", 50L), // passes a+b, fails c
      (5L, "long enough ok", 50L), // passes all
      (6L, "long enough ok", 50L)  // passes all
    ).toDF("doc_id", "text", "n")
    val got = CorpusOps.qualityFunnel(docs, Seq(
      "a_len" -> (length(col("text")) >= 5),
      "b_n" -> (col("n") >= 10),
      "c_ok" -> col("text").contains("ok")))
      .orderBy("stage_idx").collect()
      .map(r => (r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("a_len", 6L, 2L, 4L),
      ("b_n", 4L, 1L, 3L),
      ("c_ok", 3L, 1L, 2L)))
    // drop rates: 2/6 -> 333‰, 1/4 -> 250‰, 1/3 -> 333‰
    val rates = CorpusOps.qualityFunnel(docs, Seq(
      "a_len" -> (length(col("text")) >= 5),
      "b_n" -> (col("n") >= 10),
      "c_ok" -> col("text").contains("ok")))
      .orderBy("stage_idx").collect().map(_.getLong(5))
    assert(rates.toSeq == Seq(333L, 250L, 333L))
  }

  test("quality funnel: a stage that drops everything nulls later rates") {
    val docs = Seq((1L, "x"), (2L, "y")).toDF("doc_id", "text")
    val got = CorpusOps.qualityFunnel(docs, Seq(
      "all_die" -> lit(false),
      "after" -> lit(true)))
      .orderBy("stage_idx").collect()
    assert(got(0).getLong(2) == 2L && got(0).getLong(3) == 2L) // entered, dropped
    assert(got(1).getLong(2) == 0L && got(1).getLong(3) == 0L)
    assert(got(1).isNullAt(5)) // 0-entered stage: rate is null, not 0/0
  }

  test("pack segments tile each doc's span: sum(seg_len) = toks, straddlers split") {
    val docs = Seq(
      (0L, 300L), (1L, 300L),   // doc 1 straddles packs 0/1 (300..600)
      (2L, 9999L),              // clamped to 512: spans into pack 2
      (150L, 100L))             // fresh chunk
      .toDF("doc_id", "n_tokens")
    val segs = CorpusOps.packSegments(docs, capacity = 512L, chunkSize = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    // doc 1: [300, 600) -> pack 0 offset 300 len 212, pack 1 offset 0 len 88
    assert(segs.filter(_._1 == 1L).toSet ==
      Set((1L, 0L, 300L, 212L), (1L, 1L, 0L, 88L)))
    // per-doc segment lengths sum to the clamped token count
    val sums = segs.groupBy(_._1).view.mapValues(_.map(_._4).sum).toMap
    assert(sums == Map(0L -> 300L, 1L -> 300L, 2L -> 512L, 150L -> 100L))
    // no segment exceeds capacity, offsets stay in [0, capacity)
    assert(segs.forall(s => s._4 >= 1 && s._4 <= 512 && s._3 >= 0 && s._3 < 512))
  }

  test("inverted index: df cap bounds postings, lists sorted") {
    val docs = Seq(
      (3L, "apple banana apple"),      // apple deduped within doc
      (1L, "apple cherry"),
      (2L, "apple banana the the the"))
      .toDF("doc_id", "text")
    val idx = CorpusOps.invertedIndex(docs, maxDf = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getSeq[Long](2))).toMap
    assert(!idx.contains("apple"))          // df=3 > cap: excluded
    assert(idx("banana") == (2L, Seq(2L, 3L))) // sorted postings
    assert(idx("cherry") == (1L, Seq(1L)))
    assert(idx("the") == (1L, Seq(2L)))     // within-doc repeats dedup
  }

  test("compression ratio: repetition compresses low, entropy high, empty zero") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    val docs = Seq(
      (1L, "the same phrase again and again " * 100),
      (2L, (1 to 100).map(i => md5hex(i.toString)).mkString(" ")),
      (3L, "")).toDF("doc_id", "text")
    def ratios = docs.select(col("doc_id"),
      graft.functions.CompressionRatioExpr.of(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val r1 = ratios
    assert(r1(1L) < 100, s"repetitive text should deflate hard, got ${r1(1L)}")
    assert(r1(2L) > 500, s"hex noise should resist deflate, got ${r1(2L)}")
    assert(r1(3L) == 0)
    assert(ratios == r1) // deterministic across evaluations
  }

  test("q88's deflate column equals an independent driver-side deflate (real data)") {
    // q88_compression_quality is the one registered query with NO DuckDB
    // oracle (DuckDB has no deflate) — this is its substitute gate: the
    // codegen'd kernel's output over the REAL sf0.001 documents table
    // must equal a from-scratch driver-side implementation (plain
    // String.getBytes + a fresh Deflater per doc — none of the kernel's
    // UTF8String/thread-cache/codegen plumbing is shared).
    def independentPermille(text: String): Int = {
      val bytes = text.getBytes("UTF-8")
      if (bytes.isEmpty) 0
      else {
        val d = new java.util.zip.Deflater(
          java.util.zip.Deflater.DEFAULT_COMPRESSION)
        try {
          d.setInput(bytes); d.finish()
          val buf = new Array[Byte](8192)
          var n = 0L
          while (!d.finished()) n += d.deflate(buf)
          ((n * 1000L) / bytes.length).toInt
        } finally d.end()
      }
    }
    val rows = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"),
        graft.functions.CompressionRatioExpr.of(col("text")).as("kernel"))
      .collect()
    assert(rows.length > 0)
    rows.foreach { r =>
      val expected = independentPermille(r.getString(1))
      assert(r.getInt(2) == expected,
        s"doc ${r.getLong(0)}: kernel ${r.getInt(2)} != independent $expected")
    }
  }

  test("contamination gate agrees with the match accounting view") {
    // gate survivors == docs with zero rows in contaminationMatches
    val bench = Seq((900L, "held out eval question one")).toDF("doc_id", "text")
    val docs = Seq(
      (1L, "clean document with no overlap at all"),
      (2L, "this contains held out eval verbatim"),
      (3L, "another clean one entirely")).toDF("doc_id", "text")
    val benchGrams = CorpusOps.benchGramTable(bench, n = 3)
      .collect().map(_.getString(0)).toSeq
    val kept = CorpusOps.contaminationGate(docs, benchGrams, n = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val matched = CorpusOps.contaminationMatches(docs,
      CorpusOps.benchGramTable(bench, n = 3), n = 3)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L))
    assert(matched == Set(2L))
    assert((kept ++ matched) == Set(1L, 2L, 3L) && kept.intersect(matched).isEmpty)
  }

  test("packing fails fast on a non-integral id (no silent null chunk)") {
    // a string id would cast to null, collapsing every doc into one null
    // chunk — the single-partition sort the chunking exists to avoid
    val docs = Seq(("a", 10L), ("b", 20L)).toDF("doc_id", "n_tokens")
    val e = intercept[IllegalArgumentException] {
      CorpusOps.packChunked(docs, capacity = 512L)
    }
    assert(e.getMessage.contains("integral"))
  }

  test("robustOutliers flags the planted spike and survives a moved mean") {
    // group a: tight cluster 100±2 plus one 10000 spike — classic z-score
    // would ALSO flag it, but the spike drags the mean/stddev; median/MAD
    // don't move, so the spike alone is flagged. group b: constant values
    // (MAD 0) — any deviation flags, sameness doesn't.
    val rows = ((1 to 99).map(i => ("a", i.toLong, 98.0 + (i % 5))) ++
      Seq(("a", 500L, 10000.0)) ++
      (1 to 50).map(i => ("b", 1000L + i, 7.0))).toDF("g", "id", "v")
    val got = CorpusOps.robustOutliers(rows, "g", "v", z = 3.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(500L), s"expected only the spike, got $got")
  }

  test("duplicatedSpans: keep-one spans at any offset, island merge, self-repeat") {
    val base = (0 until 20).map(i => s"t$i").mkString(" ") // doc 1: all first
    val d2 = (0 until 18).map(i => s"t$i").mkString(" ") + " x y" // prefix copy
    val d3 = "too short to have any window at all" // < 16 tokens
    val d4 = ((0 until 16).map(i => s"t$i") ++ (0 until 20).map(i => s"u$i") ++
      (0 until 16).map(i => s"t$i")).mkString(" ") // two disjoint copies
    val d5 = Seq.fill(20)("w").mkString(" ") // self-repetition
    val docs = Seq((1L, base), (2L, d2), (3L, d3), (4L, d4), (5L, d5))
      .toDF("doc_id", "text")
    val got = CorpusOps.duplicatedSpans(docs, n = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(1L) == ((20L, 0L, 0L, 0L)), s"first occurrence stays clean: ${got(1L)}")
    // doc 2: dup windows at pos 0,1,2 merge into ONE span [0,18)
    assert(got(2L) == ((20L, 18L, 1L, 900L)), got(2L).toString)
    assert(got(3L) == ((8L, 0L, 0L, 0L)), got(3L).toString)
    // doc 4: copies at pos 0 and pos 36 stay SEPARATE islands
    assert(got(4L) == ((52L, 32L, 2L, 615L)), got(4L).toString)
    // doc 5: pos 0 is the first "w"*16 occurrence, pos 1..4 dup -> [1,20)
    assert(got(5L) == ((20L, 19L, 1L, 950L)), got(5L).toString)
  }

  test("duplicatedSpansRewrite cuts exactly the islands, keeps survivors in order") {
    val base = (0 until 20).map(i => s"t$i").mkString(" ")
    val d2 = (0 until 18).map(i => s"t$i").mkString(" ") + " x y"
    val d4 = ((0 until 16).map(i => s"t$i") ++ (0 until 20).map(i => s"u$i") ++
      (0 until 16).map(i => s"t$i")).mkString(" ")
    val docs = Seq((1L, base), (2L, d2), (3L, ""), (4L, d4))
      .toDF("doc_id", "text")
    val got = CorpusOps.duplicatedSpansRewrite(docs, n = 16)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((20L, 20L, base)), "first occurrence keeps its text")
    // doc 2: island [0,18) removed -> only "x y" survives
    assert(got(2L) == ((20L, 2L, "x y")), got(2L).toString)
    assert(got(3L) == ((0L, 0L, "")), "empty doc survives as an empty row")
    // doc 4: islands [0,16) and [36,52) removed -> the 20 u-fillers remain
    assert(got(4L) == ((52L, 20L, (0 until 20).map(i => s"u$i").mkString(" "))),
      got(4L).toString)
    // report and rewrite agree: n_tokens - n_dup_tokens == n_kept_tokens
    val rep = CorpusOps.duplicatedSpans(docs, n = 16)
      .collect().map(r => r.getLong(0) -> (r.getLong(1) - r.getLong(2))).toMap
    got.foreach { case (id, (_, kept, _)) => assert(rep(id) == kept) }
  }

  test("incremental span dedup: two-run admission against a persisted store") {
    import graft.sources.FingerprintStore
    // run 1: the admitted corpus; its span fps go to the store on disk
    val batch1 = Seq((1L, "s1 s2 s3 s4 s5")).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-spanstore-spec").toString
    FingerprintStore.appendDelta(
      CorpusOps.spanFingerprints(batch1, n = 4), dir, "run1")
    assert(FingerprintStore.compact(spark, dir) == 1) // round-trip thru compaction
    val store = FingerprintStore.load(spark, dir)
    assert(store.count() == 2) // spans at pos 0 and 1

    // run 2: a NEW batch judged against the store + itself
    val batch2 = Seq(
      (10L, "a1 a2 s1 s2 s3 s4 b1 b2"),             // store hit at pos 2
      (11L, "c1 c2 c3 c4 zz c1 c2 c3 c4"),          // within-batch dup at pos 5
      (12L, "d1 d2 d3 d4"),                          // clean
      (13L, "x y")                                   // shorter than n
    ).toDF("doc_id", "text")
    val got = CorpusOps.incrementalDuplicatedSpans(batch2, store, n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // doc 10: its FIRST occurrence of the stored span is still a dup —
    // the store is by definition earlier
    assert(got(10L) == ((8L, 4L, 1L, 500L)), got(10L).toString)
    assert(got(11L) == ((9L, 4L, 1L, 444L)), got(11L).toString)
    assert(got(12L) == ((4L, 0L, 0L, 0L)), got(12L).toString)
    assert(got(13L) == ((2L, 0L, 0L, 0L)), got(13L).toString)

    // appending run 2's survivors keeps the store incremental: a THIRD
    // run re-sending doc 12's content now hits the store
    FingerprintStore.appendDelta(
      CorpusOps.spanFingerprints(batch2, n = 4), dir, "run2")
    val store2 = FingerprintStore.load(spark, dir)
    val got3 = CorpusOps.incrementalDuplicatedSpans(
      Seq((20L, "d1 d2 d3 d4")).toDF("doc_id", "text"), store2, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got3(20L) == 4L, "run-3 copy of run-2 content must hit the store")
  }

  test("token window hash kernel: doc windows equal gram-string hashes") {
    // the no-false-negative property the string-free bloom probe stands
    // on: element i of a doc's window-hash array == the single window
    // hash of its i-th gram STRING (the bench side's representation),
    // including under messy whitespace
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "  spaced \t out\ttokens \r\n here  now ok fine really truly"),
      (3L, "short doc")).toDF("doc_id", "text")
    val n = 8
    val fromDoc = docs.select(col("doc_id"),
      posexplode(CorpusOps.tokenWindowHashes(col("text"), n))
        .as(Seq("pos", "h")))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val fromGram = docs.select(col("doc_id"),
      posexplode(graft.functions.TextFunctions.wordShingles(col("text"), n))
        .as(Seq("pos", "g")))
      .select(col("doc_id"), col("pos"),
        CorpusOps.gramWindowHash(col("g"), n).as("hg"))
      .collect().filter(!_.isNullAt(2))
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(fromDoc.count(_._1._1 == 1L) == 5)  // 12 tokens -> 5 windows
    // under-n doc: ONE whole-text hash, equal to its single-gram hash
    // (the wordShingles convention) — short docs keep no-false-negatives
    assert(fromDoc.count(_._1._1 == 3L) == 1)
    assert(fromDoc.nonEmpty)
    fromDoc.foreach { case (k, h) =>
      assert(fromGram.get(k).contains(h), s"window hash mismatch at $k") }
  }

  test("empty-store degenerations: incremental forms equal their batch forms") {
    import graft.operators.Dedup
    // incremental span dedup against an EMPTY store must be exactly the
    // batch operator — the bootstrap-run invariant
    val docs = Seq(
      (1L, "a b c d e"),
      (2L, "z a b c d"),        // shares span "a b c d" at pos 1
      (3L, "q r s t u v")).toDF("doc_id", "text")
    val emptyDir = java.nio.file.Files.createTempDirectory("graft-empty").toString
    val emptyStore = graft.sources.FingerprintStore.load(spark, emptyDir)
    val inc = CorpusOps.incrementalDuplicatedSpans(docs, emptyStore, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val batch = CorpusOps.duplicatedSpans(docs, n = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(inc == batch, s"$inc vs $batch")
    // mergeComponents over an EMPTY store must be from-scratch CC
    val ids = (1L to 6L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val emptyComps = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType))))
    val merged = Dedup.mergeComponents(emptyComps, ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scratch = Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == scratch, s"$merged vs $scratch")
  }

  test("spanGate drops store-span carriers per-row; no false negatives") {
    val batch1 = Seq((1L, "s1 s2 s3 s4 s5")).toDF("doc_id", "text")
    val bytes = CorpusOps.spanStoreBloomBytes(
      CorpusOps.spanFingerprints(batch1, n = 4), fpp = 0.01)
    val incoming = Seq(
      (10L, "a1 a2 s1 s2 s3 s4 b1 b2"), // carries a stored span -> drop
      (11L, "s2 s3 s4 s5 tail here"),   // the OTHER stored span -> drop
      (12L, "d1 d2 d3 d4 clean doc"),   // clean -> admit
      (13L, "x y")                       // no window at all -> admit
    ).toDF("doc_id", "text")
    val kept = CorpusOps.spanGate(incoming, bytes, n = 4)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(10L) && !kept.contains(11L), kept.toString)
    assert(kept == Set(12L, 13L), kept.toString)
  }

  test("contamination spans + rewrite: surgical cut, report agreement, short-doc domain") {
    // bench gram "b1 b2 b3 b4": doc 10 embeds it mid-document (span cut,
    // clean remainder survives); doc 11 is clean; doc 12 is wholly the
    // bench item (rewrites to empty); doc 13 is sub-n (span surgery
    // leaves it alone — the doc gate's domain)
    val benchGrams = Seq("b1 b2 b3 b4").toDF("g")
    val docs = Seq(
      (10L, "c1 c2 b1 b2 b3 b4 c3 c4"),
      (11L, "x1 x2 x3 x4 x5"),
      (12L, "b1 b2 b3 b4"),
      (13L, "b1 b2")).toDF("doc_id", "text")
    val rep = CorpusOps.contaminationSpans(docs, benchGrams, n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rep(10L) == ((8L, 4L, 1L, 500L)), rep(10L).toString)
    assert(rep(11L) == ((5L, 0L, 0L, 0L)))
    assert(rep(12L) == ((4L, 4L, 1L, 1000L)))
    assert(rep(13L) == ((2L, 0L, 0L, 0L)), "sub-n docs are the doc gate's domain")
    val rw = CorpusOps.contaminationRewrite(docs, benchGrams, n = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rw(10L) == ((8L, 4L, "c1 c2 c3 c4")), rw(10L).toString)
    assert(rw(11L) == ((5L, 5L, "x1 x2 x3 x4 x5")))
    assert(rw(12L) == ((4L, 0L, "")), "wholly-contaminated doc stays as an empty row")
    assert(rw(13L) == ((2L, 2L, "b1 b2")))
    // report and rewrite agree: n_tokens - n_bad_tokens == n_kept_tokens
    rep.foreach { case (id, (nt, bad, _, _)) => assert(rw(id)._2 == nt - bad) }
  }

  test("sourceCapTopK equals the one-window top-k, incl. a hot source and ties") {
    import org.apache.spark.sql.expressions.Window
    // hot source: 5000 docs (spread over every salt bucket); cold: 3 docs
    // (fewer than k, all kept); tied scores resolved by lowest id
    val rows = (0L until 5000L).map(i => ("hot", i, (i % 7).toInt)) ++
      Seq(("cold", 9001L, 1), ("cold", 9002L, 1), ("cold", 9003L, 5))
    val df = rows.toDF("source", "doc_id", "quality")
    val got = CorpusOps.sourceCapTopK(df, k = 10, scoreCol = "quality",
      saltBuckets = 16)
      .select("source", "id", "score", "rank")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id").asc)
    val want = df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("source"), col("doc_id"), col("quality"), col("rank"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(got == want)
    assert(got.count(_._1 == "cold") == 3) // under-k group fully kept
    assert(got.count(_._1 == "hot") == 10)
  }
}
