package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FormatDouble15
import graft.model.TransformationRule
import graft.rules.RuleCompiler

/** Property-based checks per SURVEY §5.2(3): rule-transform algebra and
  * aggregate-merge invariance. Generators sample with a fixed seed;
  * Column-level properties evaluate in batches (one DataFrame pass per
  * property) to keep Spark job counts sane. */
class PropertySpec extends AnyFunSuite {

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(42L + i)))

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("property-spec", "4").getOrCreate()

  test("format_double15 never leaves trailing fraction zeros and round-trips") {
    sample(Gen.chooseNum(-1e12, 1e12), 500).foreach { d =>
      val s = FormatDouble15.format(d)
      if (s.contains('.') && !s.contains('e') && !s.contains('E'))
        assert(!s.endsWith("0") && !s.endsWith("."))
      // 15 significant digits round-trip within relative 1e-13
      val back = s.toDouble
      assert(d == 0.0 || math.abs(back - d) / math.max(math.abs(d), 1e-300) < 1e-13)
    }
  }

  test("trim is idempotent over arbitrary whitespace-padded strings") {
    val gen = for {
      core <- Gen.alphaNumStr
      padL <- Gen.listOf(Gen.oneOf(' ', '\t', '\n', '\r')).map(_.mkString)
      padR <- Gen.listOf(Gen.oneOf(' ', '\t', '\n', '\r')).map(_.mkString)
    } yield padL + core + padR
    val samples = Gen.listOfN(200, gen).sample.getOrElse(Seq("  x "))
    import spark.implicits._
    val df = samples.toDF("v")
    val once = RuleCompiler(df, Seq(TransformationRule("v", "t1", "trim")))
    val twice = RuleCompiler(once, Seq(TransformationRule("t1", "t2", "trim")))
    val rows = twice.select("t1", "t2").collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("multiply rule equals format(stod-prefix * factor) on random numeric strings") {
    val gen = Gen.chooseNum(-1e6, 1e6)
    val factors = Seq("2", "0.5", "-3.25", "10")
    val values = Gen.listOfN(100, gen).sample.getOrElse(Seq(1.0))
    import spark.implicits._
    factors.foreach { f =>
      val df = values.map(v => (v.toString, v)).toDF("s", "raw")
      val out = RuleCompiler(df,
        Seq(TransformationRule("s", "m", "multiply", Map("factor" -> f))))
      out.select("raw", "m").collect().foreach { r =>
        val expected = FormatDouble15.format(r.getDouble(0) * f.toDouble)
        assert(r.getString(1) == expected, s"v=${r.getDouble(0)} f=$f")
      }
    }
  }

  test("case transforms compose: lower(upper(x)) == lower(x) for ASCII") {
    val samples = Gen.listOfN(200, Gen.asciiPrintableStr).sample.getOrElse(Seq("Ab"))
    import spark.implicits._
    val df = samples.toDF("v")
    val out = RuleCompiler(df, Seq(
      TransformationRule("v", "u", "uppercase"),
      TransformationRule("u", "lu", "lowercase"),
      TransformationRule("v", "l", "lowercase")))
    out.select("lu", "l").collect().foreach(r =>
      assert(r.getString(0) == r.getString(1)))
  }

  test("composite aggregate is partitioning-invariant (merge associativity)") {
    val t = graft.core.Tables(spark, "/root/testdata/sf0.001")
    val metrics = t.orders.select(
      col("o_orderpriority").as("jobType"),
      (col("o_orderkey") % 1000).as("recordsProcessed"),
      (col("o_orderkey") % 900).as("recordsSuccessful"),
      (col("o_orderkey") % 7).as("recordsFailed"),
      floor(col("o_totalprice")).cast("long").as("totalBytesProcessed"),
      floor(col("o_totalprice") / 2).cast("long").as("totalBytesWritten"),
      (col("o_orderkey") % 10).as("totalBatches"),
      ((col("o_orderkey") % 100) * 1048576L).as("peakMemoryUsage"),
      (col("o_orderkey") % 50).cast("double").as("peakCpuUsage"),
      (col("o_orderkey") % 10000).as("executionTimeMs"),
      (col("o_orderkey") % 97).cast("double").as("averageProcessingRate"))
    val a = graft.operators.MetricsAggregations.aggregateMetrics(metrics)
      .collect().head
    val b = graft.operators.MetricsAggregations
      .aggregateMetrics(metrics.repartition(7)).collect().head
    assert(a == b)
  }

  test("jaccard is symmetric and within [0,1]") {
    import spark.implicits._
    val gen = Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e"))
    val pairs = Gen.listOfN(100, Gen.zip(gen, gen)).sample.getOrElse(Seq())
    val df = pairs.toDF("xa", "xb")
      .select(array_distinct(col("xa")).as("a"), array_distinct(col("xb")).as("b"))
    val out = df.select(
      graft.operators.Dedup.jaccard(col("a"), col("b")).as("jab"),
      graft.operators.Dedup.jaccard(col("b"), col("a")).as("jba")).collect()
    out.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(0) >= 0.0 && r.getDouble(0) <= 1.0)
    }
  }

  test("kernel/declarative parity holds on adversarial random strings") {
    // strings with repeated substrings, unicode, odd whitespace — the
    // shapes mostly absent from the docs corpus
    val gen = for {
      words <- Gen.listOf(Gen.oneOf("ab", "ab ab", "ééé", "x", "", "a\tb",
        "the and of", "zzzz", "日本語テキスト", "a.b,c!"))
      sep <- Gen.oneOf(" ", "  ", "\n", "\t")
    } yield words.mkString(sep)
    val samples = sample(gen, 300).distinct
    import spark.implicits._
    import graft.functions.{ShingleExpressions, TextFunctions}
    val df = samples.toDF("text")
    val rows = df.select(
      ShingleExpressions.charShinglesDistinct(col("text"), 5).as("ck"),
      array_distinct(TextFunctions.charNgrams(col("text"), 5)).as("cd"),
      ShingleExpressions.wordShinglesDistinct(col("text"), 3).as("wk"),
      array_distinct(TextFunctions.wordShingles(col("text"), 3)).as("wd"),
      graft.operators.Dedup.simhash64(col("text")).as("sk"),
      graft.operators.DedupWitness.simhash64Declarative(col("text")).as("sd"),
      graft.functions.LangQualityExpr.of(col("text")).as("lq"),
      TextFunctions.langIdHeuristic(col("text")).as("dl"),
      TextFunctions.qualityScore(col("text")).as("dq"),
      graft.functions.HashExpressions.minhashSignature(
        ShingleExpressions.wordShinglesDistinct(col("text"), 3), 4).as("mk"),
      TextFunctions.minhashSignature(
        array_distinct(TextFunctions.wordShingles(col("text"), 3)), 4).as("md")
    ).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1), s"char shingles: $r")
      assert(r.getSeq[String](2) == r.getSeq[String](3), s"word shingles: $r")
      assert(r.getLong(4) == r.getLong(5), s"simhash64: $r")
      val lq = r.getStruct(6)
      assert(lq.getString(0) == r.getString(7), s"langid: $r")
      assert(lq.getDouble(1) == r.getDouble(8), s"quality: $r")
      assert(r.getSeq[String](9) == r.getSeq[String](10), s"minhash: $r")
    }
  }

  test("token window hashes: count law and gram parity on random docs") {
    import graft.operators.CorpusOps
    // random docs over a small alphabet with messy whitespace; for every
    // doc: (a) the window count law (0 tokens -> 0 hashes; 0 < t < n ->
    // 1 whole-text hash; t >= n -> t-n+1), (b) each window hash equals
    // the kernel over the corresponding gram STRING — the bloom probe's
    // no-false-negative property, exercised across 200 random shapes
    val tokGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString)
    val wsGen = Gen.nonEmptyListOf(Gen.oneOf(" ", "\t", "\n", "\r", "  "))
      .map(_.mkString)
    val docGen = for {
      toks <- Gen.listOfN(11, tokGen).flatMap(ts =>
        Gen.chooseNum(0, 11).map(ts.take))
      seps <- Gen.listOfN(12, wsGen)
      lead <- Gen.oneOf("", " ", "\t")
    } yield (toks, lead + toks.zip(seps).map { case (t, w) => t + w }.mkString)
    val docs = sample(docGen, 200)
    val n = 4
    import spark.implicits._
    val df = docs.zipWithIndex
      .map { case ((toks, text), i) => (i.toLong, toks.size.toLong, text) }
      .toDF("doc_id", "n_toks", "text")
    val got = df.select(col("doc_id"), col("n_toks"),
      CorpusOps.tokenWindowHashes(col("text"), n).as("hs"),
      graft.functions.TextFunctions.wordShingles(col("text"), n).as("grams"))
    val rows = got.withColumn("gram_hs",
      transform(col("grams"), g => CorpusOps.gramWindowHash(g, n)))
      .collect()
    rows.foreach { r =>
      val nToks = r.getLong(1)
      val hs = r.getSeq[Long](2)
      // count law: zero-or-under-n tokens -> ONE whole-text hash (the
      // single-gram convention; empty folds to 0), else t-n+1 windows
      val expected = math.max(1L, nToks - n + 1).toInt
      assert(hs.length == expected, s"doc ${r.getLong(0)}: $nToks tokens -> ${hs.length}")
      val gramHs = r.getSeq[Long](4)
      assert(hs == gramHs, s"doc ${r.getLong(0)}: kernel vs gram-string hashes differ")
    }
  }

  test("minhash mix arithmetic matches a BigInt reference fold") {
    import graft.functions.MinHashMix
    // pinned cross-engine reference values (same literals verified in
    // DuckDB HUGEINT arithmetic when the oracle SQL was built)
    assert(MinHashMix.h60(java.security.MessageDigest.getInstance("MD5")
      .digest("abc".getBytes("UTF-8"))) == 648541476951500027L)
    assert(MinHashMix.mix(0, 648541476951500027L) == 1085342735761306534L)
    assert(MinHashMix.mix(11, 648541476951500027L) == 1693318424708536007L)
    // property: the multiplyHigh/Mersenne fold equals BigInt (a*h+b) mod p
    val p = BigInt(MinHashMix.P)
    val gen = for {
      i <- Gen.choose(0, 11)
      h <- Gen.choose(0L, (1L << 60) - 1)
    } yield (i, h)
    sample(gen, 500).foreach { case (i, h) =>
      val expect = ((BigInt(MinHashMix.A(i)) * h + MinHashMix.B(i)) mod p).toLong
      assert(MinHashMix.mix(i, h) == expect, s"i=$i h=$h")
    }
  }

  test("normalize kernel matches the declarative HOF pair bit-for-bit") {
    import spark.implicits._
    import graft.operators.{Embeddings, EmbeddingsWitness}
    // adversarial vectors: zeros, tiny/huge magnitudes, mixed signs
    val vecs = Seq(
      Array(0.0f, 0.0f, 0.0f),
      Array(1.0f),
      Array(-0.3f, 0.4f, 1.2e-20f),
      Array(3.4e18f, -1.0f, 2.5f),
      Array(1e-30f, 1e-30f)) ++
      (0 until 200).map(i => Array.tabulate(8)(d => (math.sin(i * 1.3 + d) * 2).toFloat))
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(
        Embeddings.normalize(col("v")).as("k"),
        EmbeddingsWitness.normalizeDeclarative(col("v")).as("d")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1), r.toString)
    }
  }

  test("quantizeInt8 kernel: declarative parity, code range, dequant bound") {
    import spark.implicits._
    import graft.operators.{Embeddings, EmbeddingsWitness}
    // adversarial vectors: zeros, single element, tiny/huge magnitudes,
    // mixed signs, exact half-step boundaries (x/scale + 0.5 integral)
    val vecs = Seq(
      Array(0.0f, 0.0f),
      Array(1.0f),
      Array(-127.0f, 127.0f, 63.5f),
      Array(1e-30f, -1e-30f),
      Array(3.4e18f, -1.0f)) ++
      (0 until 200).map(i => Array.tabulate(8)(d => (math.sin(i * 1.7 + d) * 5).toFloat))
    val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "v")
      .select(col("id"), col("v"),
        Embeddings.quantizeInt8(col("v")).as("k"),
        EmbeddingsWitness.quantizeInt8Declarative(col("v")).as("d"))
      .select(col("id"), col("k.codes").as("kc"), col("k.scale").as("ks"),
        col("d.codes").as("dc"), col("d.scale").as("ds"), col("v"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](1) == r.getSeq[Int](3), s"codes diverge: $r")
      assert(r.getDouble(2) == r.getDouble(4), s"scale diverges: $r")
      val codes = r.getSeq[Int](1)
      val scale = r.getDouble(2)
      assert(codes.forall(c => c >= -127 && c <= 127), s"code range: $r")
      // half-up rounding keeps every dequant error within scale/2 + ulps
      val xs = r.getSeq[Float](5)
      codes.zip(xs).foreach { case (c, x) =>
        assert(math.abs(c * scale - x) <= scale / 2 * (1 + 1e-9) + 1e-300,
          s"err bound: c=$c x=$x scale=$scale")
      }
    }
    // null elements: skipped by the max fold, null in the code array
    val edge = spark.sql(
      "SELECT array(CAST(NULL AS FLOAT), 2.0F, -1.0F) AS v")
      .select(Embeddings.quantizeInt8(col("v")).as("k"),
        EmbeddingsWitness.quantizeInt8Declarative(col("v")).as("d"))
      .select(col("k.codes"), col("k.scale"), col("d.codes"), col("d.scale"))
      .head()
    // scale = 2/127; -1.0/scale = -63.5 -> floor(-63.5 + 0.5) = -63
    assert(edge.getSeq[Any](0) == Seq(null, 127, -63))
    assert(edge.getSeq[Any](0) == edge.getSeq[Any](2))
    assert(edge.getDouble(1) == edge.getDouble(3))
    // NaN parity: NaN wins the max fold in BOTH formulations (Spark's
    // greatest sorts NaN above all), scale goes NaN, every non-null
    // code lands at 0 (kernel else-branch == witness's NaN-to-int cast)
    val nan = spark.sql(
      "SELECT array(CAST('NaN' AS FLOAT), 2.0F) AS v")
      .select(Embeddings.quantizeInt8(col("v")).as("k"),
        EmbeddingsWitness.quantizeInt8Declarative(col("v")).as("d"))
      .select(col("k.codes"), col("k.scale"), col("d.codes"), col("d.scale"))
      .head()
    assert(nan.getSeq[Any](0) == Seq(0, 0))
    assert(nan.getSeq[Any](0) == nan.getSeq[Any](2))
    assert(nan.getDouble(1).isNaN && nan.getDouble(3).isNaN)
    // NULL input vector: BOTH formulations yield a NULL struct (the
    // witness must not decay to struct(codes=NULL, scale=0.0))
    val nul = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS v")
      .select(Embeddings.quantizeInt8(col("v")).as("k"),
        EmbeddingsWitness.quantizeInt8Declarative(col("v")).as("d"))
      .head()
    assert(nul.isNullAt(0) && nul.isNullAt(1), s"NULL-vec parity: $nul")
  }

  test("perDim quantization: partitioning-invariant scales, outlier isolation") {
    import spark.implicits._
    import graft.operators.Embeddings
    // dim 0 carries one huge outlier; dims 1-3 live in [-1, 1]
    val rows = (0 until 100).map { i =>
      val d0 = if (i == 0) 10000.0f else (math.sin(i * 0.9) * 0.8).toFloat
      (i.toLong, Array(d0,
        (math.cos(i * 0.7) * 0.9).toFloat,
        (math.sin(i * 1.3) * 0.5).toFloat,
        (math.cos(i * 2.1) * 0.3).toFloat))
    }.toDF("vec_id", "embedding")
    val scales = Embeddings.perDimScales(rows)
    assert(scales == Embeddings.perDimScales(rows.repartition(7))) // order-free
    // per-dim: dims 1-3 keep fine resolution despite dim 0's outlier
    (1 to 3).foreach(d => assert(scales(d) <= 1.0 / 127.0 * 1.01, s"dim $d"))
    val err = Embeddings.quantizePerDim(rows, scales)
      .select(posexplode(arrays_zip(col("codes").as("c"), col("embedding").as("x")))
        .as(Seq("pos", "z")))
      .filter(col("pos") > 0)
      .select(abs(col("z.c") *
        element_at(typedlit(scales), col("pos").cast("int") + 1) -
        col("z.x").cast("double")).as("e"))
      .agg(max(col("e"))).head.getDouble(0)
    assert(err <= 1.0 / 254.0 * 1.01, s"per-dim max err $err")
    // per-VECTOR quantization of the outlier row loses everything else:
    // its scale is 10000/127, so dims 1-3 all collapse to code 0
    val collapsed = rows.filter(col("vec_id") === 0)
      .select(Embeddings.quantizeInt8(col("embedding")).getField("codes").as("c"))
      .head.getSeq[Int](0)
    assert(collapsed.tail.forall(_ == 0), s"expected collapse, got $collapsed")
    // a dimension that is NULL in EVERY vector: max() aggregates to NULL
    // -> scale 0.0 (not an NPE), and its codes take the 0/NULL branch
    val withNullDim = spark.sql(
      """SELECT * FROM VALUES
        |  (0L, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))),
        |  (1L, array(CAST(-2.0 AS FLOAT), CAST(NULL AS FLOAT)))
        |  AS t(vec_id, embedding)""".stripMargin)
    val ns = Embeddings.perDimScales(withNullDim)
    assert(ns.length == 2 && ns(1) == 0.0 && ns(0) > 0.0, ns.toString)
    val nullCodes = Embeddings.quantizePerDim(withNullDim, ns)
      .orderBy(col("vec_id")).select(col("codes")).collect()
      .map(_.getSeq[Any](0))
    // dim-0 scale = 2/127: 1.0 -> floor(63.5 + 0.5) = 64; -2.0 -> -127
    assert(nullCodes(0) == Seq(64, null) && nullCodes(1) == Seq(-127, null),
      nullCodes.mkString(","))
  }

  test("meanPool streaming fold: declarative parity, partitioning invariance, skewed group") {
    import spark.implicits._
    import graft.operators.{Embeddings, EmbeddingsWitness}
    // group 0 holds 20k members (≫ the rest) — the declarative witness
    // materializes it per cell; the streaming fold must not care.
    val rows = (0 until 21000).map { i =>
      val g = if (i < 20000) 0L else (i % 7 + 1).toLong
      (i.toLong, g, Array.tabulate(4)(d => (math.sin(i * 0.7 + d) * 0.3).toFloat))
    }
    val df = rows.toDF("vec_id", "grp", "embedding")
    def run(d: org.apache.spark.sql.DataFrame) =
      Embeddings.meanPool(d, col("grp"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2))
    val base = run(df)
    assert(base.length == 8 * 4)
    assert(base.find(t => t._1 == 0L && t._2 == 0L).get._4 == 20000L)
    // bit-identical across input partitionings (the fold is id-ordered)
    assert(run(df.repartition(13)).sameElements(base))
    assert(run(df.repartition(1)).sameElements(base))
    // and bit-identical to the collect_list parity witness
    val witness = EmbeddingsWitness.meanPoolDeclarative(df, col("grp"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    assert(witness.sameElements(base))
  }

  test("sqDist kernel matches the declarative HOF fold bit-for-bit") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      val d = 16
      (i.toLong, Seq.fill(d)(rng.nextFloat()), Seq.fill(d)(rng.nextDouble()))
    }.toDF("id", "a", "b")
    val got = rows.select(col("id"),
      graft.functions.VectorExpressions.sqDist(col("a"), col("b")).as("k"),
      graft.operators.IvfAnnWitness.sqDistDeclarative(col("a"), col("b")).as("h"))
      .collect()
    // bit-identical (same fold order and promotion), not just close —
    // nearest-centroid tie-breaks depend on it
    got.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"id ${r.getLong(0)}: kernel ${r.getDouble(1)} != hof ${r.getDouble(2)}"))
    // null propagation parity: a null element or a length mismatch
    // NULLs the declarative fold — the kernel must match, not throw
    // and not read a zeroed slot
    val edge = spark.sql(
      """SELECT * FROM VALUES
        |  (1L, array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)),
        |  (2L, array(1.0D, 2.0D), array(1.0D, 2.0D, 3.0D)),
        |  (3L, array(1.0D, 2.0D), array(3.0D, 4.0D))
        |AS t(id, a, b)""".stripMargin)
      .select(col("id"),
        graft.functions.VectorExpressions.sqDist(col("a"), col("b")).as("k"),
        graft.operators.IvfAnnWitness.sqDistDeclarative(col("a"), col("b")).as("h"))
      .orderBy("id").collect()
    assert(edge(0).isNullAt(1) && edge(0).isNullAt(2)) // null element
    assert(edge(1).isNullAt(1) && edge(1).isNullAt(2)) // length mismatch
    assert(edge(2).getDouble(1) == 8.0 && edge(2).getDouble(2) == 8.0)
  }

  test("quality funnel invariants: conservation and cascade telescoping") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rng = new scala.util.Random(7)
    val docs = (1 to 400).map(i =>
      (i.toLong, rng.nextInt(1000).toLong, rng.nextInt(1000).toLong))
      .toDF("id", "a", "b")
    val rows = graft.operators.CorpusOps.qualityFunnel(docs, Seq(
      "s0" -> (col("a") < 700), "s1" -> (col("b") < 500),
      "s2" -> (col("a") + col("b") < 900)))
      .orderBy("stage_idx")
      .collect().map(r => (r.getLong(2), r.getLong(3), r.getLong(4)))
    // entered_0 = total; survived_i = entered_{i+1}; conservation:
    // total = sum(dropped) + survived_last
    assert(rows(0)._1 == 400L)
    rows.sliding(2).foreach { case Array((_, _, s), (e, _, _)) => assert(s == e)
      case _ => () }
    assert(rows.map(_._2).sum + rows.last._3 == 400L)
  }

  test("corpus diff: identity maps to unchanged, empty sides to added/removed") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (1 to 50).map(i => (i.toLong, s"text $i")).toDF("doc_id", "text")
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def statuses(d: org.apache.spark.sql.DataFrame) =
      d.groupBy("status").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(statuses(graft.operators.CorpusOps.corpusDiff(docs, docs))
      == Map("unchanged" -> 50L))
    assert(statuses(graft.operators.CorpusOps.corpusDiff(empty, docs))
      == Map("added" -> 50L))
    assert(statuses(graft.operators.CorpusOps.corpusDiff(docs, empty))
      == Map("removed" -> 50L))
  }

  test("fnv1a64 rollout matches a reference fold on random user ids") {
    // the reference's truncated offset basis (src/feature_flags.cpp:71),
    // kept bit-for-bit for cohort parity on migration
    def refFnv(s: String): Long = {
      var h = 1469598103934665603L
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 1099511628211L }
      h
    }
    val ids = sample(Gen.alphaNumStr.suchThat(_.nonEmpty), 200).distinct
    import spark.implicits._
    val got = ids.toDF("u")
      .select(col("u"), graft.functions.HashExpressions.fnv1a64(col("u")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    ids.foreach(id => assert(got(id) == refFnv(id), id))
  }

  test("bpe apply: chain and scan agree on random words over random merge tables") {
    import graft.operators.LmOps
    // random lowercase words + random (possibly chained) merge tables:
    // the Column replace-chain and the witness index scan must agree on
    // the symbol count for EVERY (word, table) pair — the q130/q132
    // apply semantics as an algebraic property, not just on the corpus.
    val wordGen = Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))
    val words = sample(wordGen, 120).distinct
    // derive merge tables BPE-style so later rules can consume earlier
    // merges (the chaining case replace() could plausibly get wrong)
    val tables: Seq[Seq[(String, String)]] = Seq(
      Seq("a" -> "b", "ab" -> "c", "abc" -> "d"),
      Seq("a" -> "a", "aa" -> "aa", "b" -> "c"),
      Seq("c" -> "c", "cc" -> "c", "d" -> "a", "da" -> "b"))
    import spark.implicits._
    for (table <- tables) {
      val got = words.toDF("w")
        .select(col("w"), LmOps.bpeSymbolCount(col("w"), table).as("n"),
          graft.functions.BpeApplyExpr.of(col("w"), table).as("k"))
        .collect().map(r => r.getString(0) -> (r.getInt(1), r.getInt(2))).toMap
      words.foreach { w =>
        val scan = LmOps.applyMergesScan(w, table)
        assert(got(w)._1 == scan, s"fold != scan for '$w' under $table")
        assert(got(w)._2 == scan, s"native != scan for '$w' under $table")
      }
    }
  }

  test("zip-form shingles equal the naive sliding window on random texts") {
    // shinglesFromTokens was rewritten as arrays_zip of shifted slices
    // (the lambda-capture fix); this law holds it equal to the obvious
    // reference — split, slide, join — over random whitespace-noisy
    // strings and every n the fleet uses, including the under-n
    // single-gram convention.
    val textGen = for {
      n <- Gen.chooseNum(0, 14)
      toks <- Gen.listOfN(n, Gen.oneOf("a", "bb", "ccc", "dd", "e"))
      sep <- Gen.listOfN(math.max(n - 1, 0) + 2,
        Gen.oneOf(" ", "  ", "\t", " \n "))
    } yield {
      val body = toks.zipAll(sep.slice(1, math.max(n, 1)), "", " ")
        .map { case (t, s) => t + s }.mkString
      sep.head + body
    }
    val texts = sample(textGen, 150).distinct
    def reference(text: String, n: Int): Seq[String] = {
      val ts = text.split("\\s+").filter(_.nonEmpty).toSeq
      if (ts.length >= n) ts.sliding(n).map(_.mkString(" ")).toSeq
      else Seq(ts.mkString(" "))
    }
    import spark.implicits._
    for (n <- Seq(2, 3, 8)) {
      val got = texts.toDF("t")
        .select(col("t"),
          graft.functions.TextFunctions.wordShingles(col("t"), n).as("g"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1).toSeq).toMap
      texts.foreach { t =>
        assert(got(t) == reference(t, n), s"n=$n text='$t'")
      }
    }
  }

  test("surprisal gate admits exactly the docs the batch scorer passes") {
    import graft.operators.LmOps
    // random corpora: train the vocab on the corpus itself, then the
    // gate's keep-set must equal the scorer's not-low_quality set for
    // ANY vocab size and threshold — the parity law, property-scale.
    val docGen = Gen.chooseNum(0, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("x", "y", "z", "w", "v")).map(_.mkString(" ")))
    import spark.implicits._
    val docs = sample(docGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    for (vocabSize <- Seq(1, 3); thresh <- Seq(1000L, 2300L)) {
      val (voc, oov) = LmOps.trainSurprisalVocab(docs, vocabSize)
      val admitted = LmOps.surprisalGate(docs, voc, oov, thresh)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val passed = LmOps.surprisalScores(docs, vocabSize, thresh)
        .filter(!col("low_quality"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(admitted == passed, s"vocab=$vocabSize thresh=$thresh")
    }
  }

  // -------------------------------------------------------------------
  // The q130 lesson generalized: an oracle-green row proves agreement on
  // the DATA, not the FUNCTION — when two derivations share a
  // construction, both can be wrong together and every hash matches.
  // Each law below holds a kernel against an INDEPENDENT JVM witness
  // that shares no mechanism (direct per-window recomputation instead
  // of rolling recurrences, brute-force scans instead of deques, regex
  // tokenization instead of byte scanning), over generated adversarial
  // inputs the corpus never volunteers.
  // -------------------------------------------------------------------

  /** Direct BigInt polynomial hash per window — no rolling subtract-
    * multiply recurrence, no precomputed pow: the mechanism where
    * rolling-hash bugs live is exactly what this witness does NOT use. */
  private def witnessWindowHashes(text: String, window: Int): Array[Long] = {
    val cps = text.codePoints().toArray
    if (cps.length < window) Array.emptyLongArray
    else (0 to cps.length - window).map { s =>
      var acc = BigInt(0)
      (s until s + window).foreach(j => acc = (acc * 257 + cps(j)) mod 1000000007)
      acc.toLong
    }.toArray
  }

  /** Adversarial text generator for the rolling family: repeated
    * characters (all-tie windows), monotone runs (deque stress),
    * multibyte and supplementary-plane code points (codepoint-vs-char
    * indexing), and random mixes. */
  private def rollingTextGen: Gen[String] = {
    val astral = new String(Character.toChars(0x1F600))
    Gen.oneOf(
      Gen.chooseNum(0, 40).map("a" * _),
      Gen.chooseNum(0, 30).map(n => (0 until n).map(i => ('a' + i % 26).toChar).mkString),
      Gen.chooseNum(0, 30).map(n => (0 until n).map(i => ('z' - i % 26).toChar).mkString),
      Gen.listOf(Gen.oneOf("a", "b", "é", "日", astral, " ")).map(_.mkString),
      Gen.listOf(Gen.oneOf("abab", "abba", "xyzzy")).map(_.mkString))
  }

  test("rolling fingerprints: kernel equals direct BigInt witness; planted windows survive") {
    import spark.implicits._
    import graft.functions.RollingHashExpr
    val window = 6
    val sampleMod = 4
    val texts = sample(rollingTextGen, 250).distinct
    val got = texts.toDF("text")
      .select(col("text"), RollingHashExpr.of(col("text"), window, sampleMod).as("fp"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    texts.foreach { t =>
      val wit = witnessWindowHashes(t, window).filter(_ % sampleMod == 0)
        .distinct.sorted.toSeq
      assert(got(t) == wit, s"rolling diverged on ${t.take(60).map(_.toInt)}")
    }
    // containment law on planted windows: a doc embedded whole inside a
    // larger doc contributes ALL its sampled hashes to the host's set
    val inner = "qwertyuiopasdfgh"
    val host = "zz" * 5 + inner + "kk" * 5
    val innerFp = witnessWindowHashes(inner, window).filter(_ % sampleMod == 0).toSet
    val hostFp = witnessWindowHashes(host, window).filter(_ % sampleMod == 0).toSet
    assert(innerFp.nonEmpty && innerFp.subsetOf(hostFp),
      "planted substring must keep its sampled fingerprints inside the host")
  }

  test("winnowed fingerprints: deque kernel equals brute-force window minima") {
    import spark.implicits._
    import graft.functions.RollingHashExpr
    val window = 5
    for (winnow <- Seq(1, 3, 7)) {
      val texts = sample(rollingTextGen, 150).distinct
      val got = texts.toDF("text")
        .select(col("text"),
          RollingHashExpr.winnowed(col("text"), window, winnow).as("fp"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      texts.foreach { t =>
        val hs = witnessWindowHashes(t, window)
        val wit =
          if (hs.isEmpty) Seq.empty[Long]
          else {
            val w = math.min(winnow, hs.length)
            // brute-force: min over every w-length stretch by direct scan
            ((w - 1) until hs.length)
              .map(i => hs.slice(i - w + 1, i + 1).min)
              .distinct.sorted
          }
        assert(got(t) == wit,
          s"winnow=$winnow diverged on ${t.take(60).map(_.toInt)}")
      }
    }
  }

  test("token window hashes: kernel equals regex-tokenized direct-fold witness") {
    import spark.implicits._
    import graft.functions.TokenWindowHashExpr
    // the kernel byte-scans UTF-8 and rolls a wrapping polynomial; the
    // witness regex-splits (TextFunctions.tokens semantics), FNV-hashes
    // each token string, and folds each window DIRECTLY — no rolling
    // subtract, no byte-level tokenizer
    def fnv(s: String): Long =
      s.getBytes("UTF-8").foldLeft(-3750763034362895579L)(
        (h, b) => (h ^ (b & 0xffL)) * 1099511628211L)
    def witness(text: String, n: Int): Seq[Long] = {
      val hs = text.split("\\s+").filter(_.nonEmpty).map(fnv)
      if (hs.length < n) Seq(hs.foldLeft(0L)((w, h) => w * 1099511628211L + h))
      else hs.sliding(n).map(_.foldLeft(0L)((w, h) => w * 1099511628211L + h)).toSeq
    }
    val gen = for {
      words <- Gen.listOf(Gen.oneOf("a", "bb", "ccc", "日本語", "é", "x1",
        "zzzzzzzzzz"))
      sep <- Gen.oneOf(" ", "  ", "\t", "\n", "", "\f", "\r", " \r\n ")
    } yield words.mkString(sep)
    for (n <- Seq(1, 3, 16)) {
      val texts = (sample(gen, 200) ++ Seq("", " ", "one", "a b")).distinct
      val got = texts.toDF("text")
        .select(col("text"), TokenWindowHashExpr.of(col("text"), n).as("ws"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
      texts.foreach { t =>
        assert(got(t) == witness(t, n),
          s"n=$n diverged on ${t.map(_.toInt).mkString(",")}")
      }
    }
  }

  test("quantizeInt8: kernel equals two-pass witness on boundary/outlier channels") {
    import spark.implicits._
    import graft.functions.VectorExpressions
    // independent witness: two explicit passes (max-abs, then codes),
    // structurally unlike the kernel's fused single traversal — same
    // double formula by contract (floor(x/scale + 0.5) half-up)
    def witness(xs: Seq[java.lang.Float]): (Seq[Any], Double) = {
      val finite = xs.filter(_ != null).map(_.toDouble)
      val maxabs = finite.map(math.abs).foldLeft(0.0)(
        (m, a) => if (a.isNaN || a > m) a else m)
      val scale =
        if (maxabs.isNaN) Double.NaN
        else if (maxabs > 0) maxabs / 127.0 else 0.0
      val codes = xs.map { x =>
        if (x == null) null
        else if (scale > 0) Int.box(math.floor(x.toDouble / scale + 0.5).toInt)
        else Int.box(0)
      }
      (codes, scale)
    }
    val channels: Seq[Seq[java.lang.Float]] = Seq(
      Seq(1f, -1f, 0.5f, -0.5f),                  // symmetric boundaries
      Seq(127f, -127f, 63.5f, -63.5f),            // exact half-step codes
      Seq(1e30f, 1e-30f, -1e-30f, 0f),            // outlier flattens the rest
      Seq(0f, 0f, 0f),                            // all-zero → scale 0
      Seq(-5f, -3f, -1f),                         // negative-only
      Seq(Float.MinPositiveValue, Float.MaxValue), // denormal + extreme
      Seq(1f, null, -2f),                         // null channel survives
      Seq(Float.NaN, 1f, 2f))                     // NaN wins the fold
    val rnd = new scala.util.Random(17)
    val randoms = (1 to 60).map(_ =>
      Seq.fill(1 + rnd.nextInt(8))(Float.box((rnd.nextFloat() - 0.5f) * 200f))
        .map(x => x: java.lang.Float))
    val all = channels ++ randoms
    val rows = all.map(v => Tuple1(v)).toDF("v")
      .select(VectorExpressions.quantizeInt8(col("v")).as("q"))
      .select(col("q.codes"), col("q.scale")).collect()
    all.zip(rows).foreach { case (input, row) =>
      val (wc, wscale) = witness(input)
      val gotCodes = row.getSeq[Any](0)
      val gotScale = row.getDouble(1)
      assert(gotCodes == wc, s"codes diverged on $input: $gotCodes vs $wc")
      assert(gotScale == wscale ||
        (gotScale.isNaN && wscale.isNaN), s"scale diverged on $input")
      // dequant bound: every finite in-range value reconstructs within
      // half a step (the quantizer's whole contract)
      if (wscale > 0 && !wscale.isInfinite)
        input.zip(wc).foreach {
          case (x, c: Integer) if x != null && !x.isNaN && !x.isInfinite &&
              math.abs(x.toDouble) <= wscale * 127 + 1e-6 =>
            assert(math.abs(x.toDouble - c.toInt * wscale) <= wscale / 2 + 1e-9,
              s"dequant bound broken at $x in $input")
          case _ => ()
        }
    }
  }

  // ---- round-15 retrieval-family laws (independent sequential witnesses)

  private def randDocs(n: Int, maxLen: Int, seedBase: Long): Seq[(Long, String)] = {
    val tokGen = Gen.oneOf("a", "b", "c")
    (0 until n).map { i =>
      val len = Gen.chooseNum(0, maxLen)
        .apply(Gen.Parameters.default, Seed(seedBase + i)).get
      val toks = (0 until len).map(j => tokGen
        .apply(Gen.Parameters.default, Seed(seedBase + i * 1000 + j)).get)
      (i.toLong, toks.mkString(" "))
    }
  }

  test("phrase law: anchored counting equals the sliding-window witness") {
    import spark.implicits._
    val docs = randDocs(40, 12, 9000L)
    val phrases = Seq((1000L, "a b"), (1001L, "b b"), (1002L, "c a c"))
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val want = (for {
      (qid, p) <- phrases; pt = toks(p)
      (did, t) <- docs; dt = toks(t)
      cnt = dt.sliding(pt.length).count(_ == pt) if cnt > 0
    } yield (qid, did) -> cnt.toLong).toMap
    val got = graft.operators.Retrieval.phraseMatches(
      graft.operators.Retrieval.posPostings(docs.toDF("doc_id", "text")),
      phrases.toDF("query_id", "text"), kTop = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == want, s"${got.toSeq.diff(want.toSeq)} vs ${want.toSeq.diff(got.toSeq)}")
  }

  test("proximity law: lag-window min distance equals brute-force pairwise") {
    import spark.implicits._
    val docs = randDocs(40, 12, 7000L)
    val queries = Seq((2000L, "a c"))
    def toks(s: String) = s.split("\\s+").filter(_.nonEmpty).toSeq
    val bf = docs.flatMap { case (did, t) =>
      val occ = toks(t).zipWithIndex.collect {
        case (w, i) if w == "a" || w == "c" => (w, i + 1L)
      }
      val d = for { x <- occ; y <- occ; if x._1 != y._1 }
        yield math.abs(x._2 - y._2)
      if (occ.map(_._1).distinct.size == 2) Some((2000L, did) -> d.min)
      else None
    }.toMap
    val got = graft.operators.Retrieval.proximityRank(
      graft.operators.Retrieval.posPostings(docs.toDF("doc_id", "text")),
      queries.toDF("query_id", "text"), kTop = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(got == bf, s"${got.toSeq.diff(bf.toSeq)} vs ${bf.toSeq.diff(got.toSeq)}")
  }

  test("spell law: deletion-join finds EVERY edit-distance<=1 vocab term") {
    import spark.implicits._
    val words = sample(Gen.choose(2, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c'))).map(_.mkString), 60)
      .distinct
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }
    val probes = sample(Gen.choose(2, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))).map(_.mkString), 20)
      .distinct
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for { p <- probes; w <- words; if lev(p, w) <= 1 }
      yield (p, w)).toSet
    val got = graft.operators.Retrieval.spellSuggest(
      graft.operators.Retrieval.postings(docs.toDF("doc_id", "text")),
      probes.map(Tuple1(_)).toDF("token"), kTop = Int.MaxValue)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got == want, s"${got.diff(want)} vs ${want.diff(got)}")
  }

  test("theta law: k-th-smallest threshold and quotient match the witness") {
    import spark.implicits._
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var v = 0L; var i = 0
      while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
      v >>> 4
    }
    val k = 8
    val items = sample(Gen.choose(1, 200), 400).map(i => ("s", s"v$i"))
      .distinct
    val got = graft.operators.ThetaSketch.kmvEstimate(
      graft.operators.ThetaSketch.sliceHashes(items.toDF("slice", "item")),
      k)
      .collect().map(r => (r.getLong(1), r.getLong(3))).head
    val hs = items.map(_._2).distinct.map(h60).sorted
    val (n, est) =
      if (hs.size < k) (hs.size.toLong, hs.size.toLong)
      else (hs.size.toLong,
        (java.math.BigInteger.valueOf(k - 1)
          .multiply(java.math.BigInteger.ONE.shiftLeft(60))
          .divide(java.math.BigInteger.valueOf(hs(k - 1)))).longValueExact())
    assert(got == ((n, est)), s"$got vs ($n, $est)")
  }
}
