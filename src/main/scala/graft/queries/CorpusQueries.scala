package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Materialize, QueryDef, Tables}
import graft.functions.TextFunctions
import graft.operators.CorpusOps

/** Corpus-preparation operators (decontamination, stable splits, TF-IDF,
  * sequence packing) as oracle-verified queries — training-data pipeline
  * extensions beyond the reference's surface. All integer/exact-hash
  * arithmetic: no floating-point accumulations cross engines.
  */
object CorpusQueries {

  private val ToksSql = OracleSql.Toks

  /** Placeholder in q88's oracle SQL for the deflate witness fixture
    * root — Verify substitutes the per-(session, sf) path the same way
    * it resolves [[ExtensionQueries.IvfFixtureToken]]. */
  val DeflateFixtureToken = "__GRAFT_DEFLATE_FIXTURE__"

  private val deflateFixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def deflateFixturePath(s: SparkSession, dir: String): String =
    deflateFixtureDirs.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => java.nio.file.Files.createTempDirectory("graft-deflate").toString)

  /** Build-once-per-(session, sf) deflate WITNESS for q88: the permille
    * column recomputed by an implementation that shares no code with
    * [[graft.functions.CompressionRatioExpr]] — String→UTF-8 bytes (not
    * UTF8String), a per-row DeflaterOutputStream draining into a
    * byte-counting sink (not the reset-and-loop drain), plain closure
    * (not codegen). DuckDB has no deflate, so the oracle can never
    * recompute this column itself; joining the witness instead makes
    * the hash compare check the EXPRESSION against an independent
    * derivation while DuckDB still recomputes the repetition leg.
    * One-time per session+sf and fixture-sized, so the closure is a
    * witness tool, not a data-plane operator. */
  private val deflateFixtureBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def ensureDeflateFixture(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + ":" + dir
    val path = deflateFixturePath(s, dir)
    deflateFixtureBuilt.computeIfAbsent(key, _ => {
      import s.implicits._
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val permille =
            if (bytes.isEmpty) 0
            else {
              val counter = new java.io.OutputStream {
                var n = 0L
                override def write(b: Int): Unit = n += 1
                override def write(b: Array[Byte], off: Int, len: Int): Unit =
                  n += len
              }
              val d = new java.util.zip.Deflater()
              val out = new java.util.zip.DeflaterOutputStream(counter, d)
              out.write(bytes)
              out.close()
              d.end()
              ((counter.n * 1000L) / bytes.length).toInt
            }
          (id, permille)
        }
        .toDF("doc_id", "witness_permille")
        .write.mode("overwrite").parquet(s"$path/witness")
      true
    })
    path
  }

  /** DuckDB distinct word-8-gram shingles (mirrors
    * array_distinct(TextFunctions.wordShingles(text, 8))). */
  private val Grams8Sql = s"list_distinct(${OracleSql.grams(8)})"

  /** The q50 FNV-1a64 HUGEINT fold — the shared [[OracleSql.fnvBucket]]
    * contract. */
  private def fnvBucketSql(s: String): String = OracleSql.fnvBucket(s)

  private val Grams3Sql = OracleSql.grams(3)
  private val Grams2Sql = OracleSql.grams(2)

  /** Shared CTE chain for q116/q119: tokenized docs → duplicated
    * 16-token window positions (keep-one: rank>1 per fingerprint) →
    * merged half-open islands [s, e) per doc, via gaps-and-islands. */
  private val SpanIslandsSql =
    s"""t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
       |             md5(array_to_string(ts[CAST(i+1 AS INT):CAST(i+16 AS INT)], ' ')) AS fp
       |      FROM t, unnest(range(len(ts) - 15)) AS u(i)
       |      WHERE len(ts) >= 16),
       |r AS (SELECT doc_id, pos,
       |             ROW_NUMBER() OVER (PARTITION BY fp
       |               ORDER BY doc_id ASC, pos ASC) AS rk FROM g),
       |d AS (SELECT doc_id, pos FROM r WHERE rk > 1),
       |i AS (SELECT doc_id, pos,
       |        CASE WHEN pos > coalesce(max(pos + 16) OVER (
       |               PARTITION BY doc_id ORDER BY pos
       |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
       |             THEN 1 ELSE 0 END AS new_island FROM d),
       |s AS (SELECT doc_id, pos, sum(new_island) OVER (
       |        PARTITION BY doc_id ORDER BY pos
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
       |      FROM i),
       |isl AS (SELECT doc_id, island, min(pos) AS s, max(pos + 16) AS e
       |        FROM s GROUP BY 1, 2)""".stripMargin

  /** Session-scoped persisted SPAN-fingerprint store over the store
    * batch (doc_id % 3 == 0) — the q121 fixture, same lazy one-time
    * pattern as PipelineQueries' signature store: appended once via
    * [[graft.sources.FingerprintStore]] (delta + compaction, so the
    * query reads the exact on-disk layout a production run-over-run
    * pipeline would), parquet-backed across bench passes. */
  private val spanStorePaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def spanStoreDir(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + ":" + dir
    spanStorePaths.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-spanstore").toString
      graft.sources.FingerprintStore.appendDelta(
        CorpusOps.spanFingerprints(
          Tables(s, dir).documents.filter(col("doc_id") % 3 === 0), n = 16),
        p, "b1")
      graft.sources.FingerprintStore.compact(s, p)
      p
    })
  }

  /** Session-scoped persisted BENCHMARK-DECONTAMINATION fixture for
    * q108: the df-capped bench gram table (parquet) and its Bloom filter
    * (through the real [[graft.sources.BloomStore]] layout). Production
    * rule: a benchmark release ships its bloom + gram table ONCE; every
    * ingestion run reads those artifacts — rebuilding them per corpus
    * pass is pure waste the gate should not time. */
  private val benchFixturePaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def benchDecontamFixture(s: SparkSession, dir: String)
      : (Array[Byte], org.apache.spark.sql.DataFrame) = {
    val key = s.sparkContext.applicationId + ":" + dir
    val base = benchFixturePaths.computeIfAbsent(key, _ => {
      val p = java.nio.file.Files.createTempDirectory("graft-benchfix").toString
      val bench = Tables(s, dir).documents
        .filter(col("doc_id") % 30 === 0).select(col("doc_id"), col("text"))
      Materialize.scope { m =>
        val grams = m.keep(
          CorpusOps.benchGramTable(bench, n = 8, maxDf = Some(20)))
        grams.write.mode("overwrite").parquet(s"$p/grams")
        // bloom keyed on one-pass WINDOW hashes of the exact capped gram
        // strings (tiny side), so the corpus probe never builds a gram
        // string; same kernel both sides => no false negatives
        graft.sources.BloomStore.write(s,
          CorpusOps.benchWindowBloomBytes(grams, n = 8, fpp = 0.03),
          s"$p/bench.bloom")
      }
      p
    })
    (graft.sources.BloomStore.read(s, s"$base/bench.bloom"),
      s.read.parquet(s"$base/grams"))
  }

  val entries: Map[String, QueryDef] = Map(

    // Substring-level exact dedup (Lee et al. 2022 keep-one semantics):
    // per doc, tokens covered by a duplicated 16-token window occurring
    // earlier in the corpus, merged into maximal spans. The oracle
    // re-derives the position stream, ranks occurrences per fingerprint,
    // and re-runs the gaps-and-islands interval union in SQL.
    "q116_dup_spans" -> QueryDef(
      s"""WITH $SpanIslandsSql,
         |a AS (SELECT doc_id, count(*) AS n_dup_spans,
         |             sum(e - s) AS n_dup_tokens FROM isl GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |       CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |       CAST(CASE WHEN len(t.ts) = 0 THEN 0
         |            ELSE (coalesce(a.n_dup_tokens, 0) * 1000) // len(t.ts)
         |       END AS BIGINT) AS dup_permille
         |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.duplicatedSpans(Tables(s, dir).documents, n = 16)
        .orderBy(col("doc_id"))
    },

    // Span dedup APPLIED: the rewritten corpus with every duplicated
    // 16-token span cut out (first occurrence keeps its text). The
    // oracle removes positions covered by the same islands and
    // reassembles survivors in order (1-based WITH ORDINALITY -> pos =
    // i - 1).
    "q119_dup_spans_rewrite" -> QueryDef(
      s"""WITH $SpanIslandsSql,
         |p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         |             ts[CAST(u.i + 1 AS INT)] AS tok
         |      FROM t, unnest(range(len(ts))) AS u(i)),
         |k AS (SELECT p.doc_id, p.pos, p.tok FROM p
         |      WHERE NOT EXISTS (SELECT 1 FROM isl
         |        WHERE isl.doc_id = p.doc_id
         |          AND p.pos >= isl.s AND p.pos < isl.e)),
         |a2 AS (SELECT doc_id, count(*) AS n,
         |              string_agg(tok, ' ' ORDER BY pos) AS text
         |       FROM k GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(a2.n, 0) AS BIGINT) AS n_kept_tokens,
         |       coalesce(a2.text, '') AS text
         |FROM t LEFT JOIN a2 ON t.doc_id = a2.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.duplicatedSpansRewrite(Tables(s, dir).documents, n = 16)
        .orderBy(col("doc_id"))
    },

    // Incremental span dedup: the NEW batch (doc_id % 3 != 0) span-
    // deduplicated against the PERSISTED span-fingerprint store of the
    // earlier batch (doc_id % 3 == 0) — q74/q83's run-over-run story
    // applied to the strongest dedup operator. A batch position is dup
    // iff its 16-token window fp is in the store (store content is by
    // definition earlier) or occurs earlier within the batch. The store
    // side is the real FingerprintStore on-disk layout (delta append +
    // compaction), read back, never re-digested.
    "q121_incremental_span_dedup" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |g AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             md5(array_to_string(ts[CAST(i+1 AS INT):CAST(i+16 AS INT)], ' ')) AS fp
         |      FROM t, unnest(range(len(ts) - 15)) AS u(i)
         |      WHERE len(ts) >= 16),
         |store AS (SELECT DISTINCT fp FROM g WHERE doc_id % 3 = 0),
         |bg AS (SELECT doc_id, pos, fp FROM g WHERE doc_id % 3 != 0),
         |sh AS (SELECT doc_id, pos FROM bg
         |       WHERE fp IN (SELECT fp FROM store)),
         |r AS (SELECT doc_id, pos,
         |        ROW_NUMBER() OVER (PARTITION BY fp
         |          ORDER BY doc_id ASC, pos ASC) AS rk FROM bg),
         |bd AS (SELECT doc_id, pos FROM r WHERE rk > 1),
         |d AS (SELECT doc_id, pos FROM sh UNION SELECT doc_id, pos FROM bd),
         |ni AS (SELECT doc_id, pos,
         |        CASE WHEN pos > coalesce(max(pos + 16) OVER (
         |               PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |             THEN 1 ELSE 0 END AS new_island FROM d),
         |si AS (SELECT doc_id, pos, sum(new_island) OVER (
         |        PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM ni),
         |isl AS (SELECT doc_id, island, min(pos) AS s, max(pos + 16) AS e
         |        FROM si GROUP BY 1, 2),
         |a AS (SELECT doc_id, count(*) AS n_dup_spans,
         |             sum(e - s) AS n_dup_tokens FROM isl GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(a.n_dup_tokens, 0) AS BIGINT) AS n_dup_tokens,
         |       CAST(coalesce(a.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
         |       CAST(CASE WHEN len(t.ts) = 0 THEN 0
         |            ELSE (coalesce(a.n_dup_tokens, 0) * 1000) // len(t.ts)
         |       END AS BIGINT) AS dup_permille
         |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
         |WHERE t.doc_id % 3 != 0
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val store = graft.sources.FingerprintStore.load(s, spanStoreDir(s, dir))
      CorpusOps.incrementalDuplicatedSpans(
        Tables(s, dir).documents.filter(col("doc_id") % 3 =!= 0),
        store, n = 16)
        .orderBy(col("doc_id"))
    },

    // Per-source retention cap: top-5 docs per source by n_chars (the
    // generic scoreCol) — a hot source never funnels through one
    // reducer because the rank runs two-phase over (source, salt) then
    // the ≤ k·saltBuckets survivors. The oracle is the plain one-window
    // form the operator must equal exactly.
    "q113_source_cap" -> QueryDef(
      """WITH r AS (SELECT source, doc_id AS id, n_chars AS score,
        |  ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id ASC) AS rank
        |  FROM documents)
        |SELECT source, id, score, rank FROM r WHERE rank <= 5
        |ORDER BY source, rank""".stripMargin) { (s, dir) =>
      CorpusOps.sourceCapTopK(Tables(s, dir).documents, k = 5,
        scoreCol = "n_chars")
        .orderBy(col("source"), col("rank"))
    },

    // Per-source quality roll-up: doc/token totals and per-gate drop
    // counts (short / repetitive / top-2-gram-dominated) with the exact
    // survivor permille. All flags are integer inequalities — engine-
    // exact; one hash aggregation over the RepetitionStats kernel.
    "q77_quality_rollup" -> QueryDef(
      s"""WITH base AS (
         |  SELECT doc_id, source, len($ToksSql) AS nt,
         |         len(list_distinct($ToksSql)) AS nd,
         |         len($Grams2Sql) AS ng
         |  FROM documents),
         |g AS (SELECT doc_id, unnest($Grams2Sql) AS gram FROM documents),
         |top AS (SELECT doc_id, max(n) AS tn FROM (
         |          SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram)
         |        GROUP BY doc_id),
         |per AS (
         |  SELECT b.source, b.nt, b.nd, b.ng, t.tn,
         |         (b.nt < 50) AS f_short,
         |         (b.nt > 0 AND (b.nt - b.nd) * 1000 > 200 * b.nt) AS f_rep,
         |         (b.ng > 0 AND t.tn * 1000 > 200 * b.ng) AS f_top
         |  FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id)
         |SELECT source AS g, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(nt) AS BIGINT) AS n_tokens_total,
         |       CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS n_short,
         |       CAST(sum(CASE WHEN f_rep THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
         |       CAST(sum(CASE WHEN f_top THEN 1 ELSE 0 END) AS BIGINT) AS n_top2gram,
         |       CAST(sum(CASE WHEN NOT f_short AND NOT f_rep AND NOT f_top
         |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |       (CAST(sum(CASE WHEN NOT f_short AND NOT f_rep AND NOT f_top
         |                 THEN 1 ELSE 0 END) AS BIGINT) * 1000)
         |         // CAST(count(*) AS BIGINT) AS kept_permille
         |FROM per GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      CorpusOps.qualityRollup(Tables(s, dir).documents, groupCol = "source",
        minTokens = 50, maxRepPermille = 200, maxTopGramPermille = 200)
        .orderBy(col("g"))
    },

    // Two-phase stratified sample (the huge-strata scale path): phase-1
    // integer hash thresholds prune each stratum to ~oversample*k rows,
    // phase-2 runs the exact (md5, id) top-k over survivors. Same rows
    // as q71 whenever the top-k survive — both queries green together IS
    // the two-phase == exact witness at this SF.
    "q78_two_phase_sample" -> QueryDef(
      """WITH h AS (
        |  SELECT doc_id, lang, source, md5(CAST(doc_id AS VARCHAR)) AS hx,
        |         CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
        |              AS BIGINT) AS hv
        |  FROM documents),
        |c AS (SELECT lang, count(*) AS n_g FROM documents GROUP BY lang),
        |t AS (SELECT lang, least(4294967296, (4294967296 * 40 + n_g - 1) // n_g)
        |             AS thr FROM c),
        |s AS (SELECT h.* FROM h JOIN t USING (lang) WHERE hv < thr),
        |r AS (SELECT doc_id, lang, source,
        |        ROW_NUMBER() OVER (PARTITION BY lang
        |          ORDER BY hx ASC, doc_id ASC) AS sample_rank
        |      FROM s)
        |SELECT doc_id, lang, source, sample_rank
        |FROM r WHERE sample_rank <= 10
        |ORDER BY lang, sample_rank""".stripMargin) { (s, dir) =>
      CorpusOps.stratifiedSampleTwoPhase(
        Tables(s, dir).documents.select(col("doc_id"), col("lang"), col("source")),
        groupCol = "lang", k = 10, oversample = 4)
        .select(col("doc_id"), col("lang"), col("source"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // END-TO-END CURATION PIPELINE: the "switch your curation to this
    // library" composition — four oracled stage semantics chained into
    // ONE query over the replica-planted corpus: (1) surprisal quality
    // gate (q127 arithmetic, trained in-pipeline on the corpus being
    // curated — the q132 rule), (2) exact dedup keep-min (q27
    // normalization), (3) 8-gram benchmark decontamination with the
    // hot-gram cap (q65 semantics; bench ⊂ corpus, so eval docs AND
    // their planted twins die here), (4) per-source token-budget fill
    // in doc_id order (q80's share table, cumulative-inclusive ≤
    // budget, src2's zero share drops the source entirely). Every
    // window is source- or fp-partitioned — no SinglePartition
    // anywhere. A hash match here pins the INTEGRATION: stage
    // boundaries, survivor flow, and the one n_tokens convention
    // shared by the quality and budget stages.
    "q217_curation_pipeline" -> QueryDef(
      s"""WITH corpus AS (SELECT doc_id, text, source FROM documents
         |  UNION ALL SELECT doc_id + 100000, text, source FROM documents
         |  WHERE doc_id % 5 = 0),
         |tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM corpus),
         |pd AS (SELECT doc_id, t, count(*) AS k FROM tok GROUP BY doc_id, t),
         |cnt AS (SELECT t, CAST(sum(k) AS BIGINT) AS c FROM pd GROUP BY t),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
         |voc AS (SELECT t, c FROM cnt ORDER BY c DESC, t ASC LIMIT 16),
         |sb AS (SELECT t, CAST(length(bin(n // c)) - 1 AS BIGINT) AS s
         |       FROM voc, tot),
         |ds AS (SELECT pd.doc_id, CAST(sum(pd.k) AS BIGINT) AS n_tokens,
         |         CAST(sum(pd.k * coalesce(sb.s,
         |           (SELECT length(bin(n)) - 1 FROM tot))) AS BIGINT) AS ts
         |       FROM pd LEFT JOIN sb USING (t) GROUP BY pd.doc_id),
         |q AS (SELECT c.doc_id, c.text, c.source,
         |        coalesce(ds.n_tokens, 0) AS n_tokens
         |      FROM corpus c LEFT JOIN ds USING (doc_id)
         |      WHERE NOT (coalesce(ds.n_tokens, 0) = 0 OR
         |        coalesce(ds.ts, 0) * 1000 > 8500 * coalesce(ds.n_tokens, 0))),
         |dd AS (SELECT q.*, row_number() OVER (
         |         PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
         |         ORDER BY doc_id) AS rn FROM q),
         |s2 AS (SELECT doc_id, text, source, n_tokens FROM dd WHERE rn = 1),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT DISTINCT g FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |tg AS (SELECT doc_id, unnest($Grams8Sql) AS g FROM s2),
         |contam AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (g)),
         |s3 AS (SELECT * FROM s2
         |       WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |b AS (SELECT doc_id, source, n_tokens,
         |        CAST(CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 10
         |          WHEN 'src2' THEN 0 ELSE 20 END AS BIGINT) AS share FROM s3),
         |cum AS (SELECT doc_id, source, n_tokens,
         |          (20000 * share) // 1000 AS budget,
         |          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS c
         |        FROM b)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |       CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM cum WHERE c <= budget ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val d = t.documents.select(col("doc_id"), col("text"), col("source"))
      val corpus = d.unionByName(d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("text"),
          col("source")))
      val scored = graft.operators.LmOps.surprisalScores(corpus,
        vocabSize = 16, threshMilli = 8500L)
      val s1 = corpus.join(scored.filter(!col("low_quality"))
        .select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      val wd = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val s2 = s1
        .withColumn("fp",
          md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1).drop("fp", "rn")
      val bench = t.documents.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id"), col("text"))
      val contaminated = CorpusOps.ngramContamination(
        s2.select(col("doc_id"), col("text")), bench,
        n = 8, maxDf = Some(20))
        .select(col("train_id").as("doc_id")).distinct()
      val s3 = s2.join(contaminated, Seq("doc_id"), "left_anti")
      val wb = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s3
        .withColumn("share",
          when(col("source") === "src0", 300L)
            .when(col("source") === "src1", 10L)
            .when(col("source") === "src2", 0L).otherwise(20L))
        .withColumn("budget", expr("(20000 * share) DIV 1000"))
        .withColumn("cum", sum(col("n_tokens")).over(wb))
        .filter(col("cum") <= col("budget"))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // THE q217 PIPELINE WITH THE NEAR-DUP COLLAPSE FOLDED IN — the
    // engine's own 100 TB doctrine (q205: LSH components + keep-best
    // BEFORE anything expensive) applied to the one-call curation
    // composition. Five stages over a corpus planted with BOTH dup
    // kinds: exact twins (+2^40, every 5th doc — die at stage 2) and
    // NEAR twins (+2^41, every 6th doc with one salted token
    // appended, J ≈ (n-2)/(n-1) — die at stage 3's keep-best, where
    // the longer variant WINS over its original): (1) surprisal
    // quality gate trained in-pipeline, (2) exact dedup keep-min,
    // (3) LSH near-dup collapse — 12-hash/4-band candidates under the
    // hot-bucket cap, exact-Jaccard verify at 0.5, connected
    // components, keep-best by token count — (4) 8-gram benchmark
    // decontamination with the hot-gram cap, (5) per-source
    // token-budget fill. The oracle re-derives ALL five stages
    // including the recursive-CTE components (the q205 derivation);
    // a hash match pins every stage boundary plus the collapsed
    // survivor flow.
    "q218_curation_neardup_pipeline" -> QueryDef(
      s"""WITH RECURSIVE corpus AS (SELECT doc_id, text, source FROM documents
         |  UNION ALL SELECT doc_id + 1099511627776, text, source FROM documents
         |  WHERE doc_id % 5 = 0
         |  UNION ALL SELECT doc_id + 2199023255552,
         |    text || ' zzq' || CAST(doc_id % 7 AS VARCHAR), source
         |  FROM documents WHERE doc_id % 6 = 0),
         |tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM corpus),
         |pd AS (SELECT doc_id, t, count(*) AS k FROM tok GROUP BY doc_id, t),
         |cnt AS (SELECT t, CAST(sum(k) AS BIGINT) AS c FROM pd GROUP BY t),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
         |voc AS (SELECT t, c FROM cnt ORDER BY c DESC, t ASC LIMIT 16),
         |sb AS (SELECT t, CAST(length(bin(n // c)) - 1 AS BIGINT) AS s
         |       FROM voc, tot),
         |ds AS (SELECT pd.doc_id, CAST(sum(pd.k) AS BIGINT) AS n_tokens,
         |         CAST(sum(pd.k * coalesce(sb.s,
         |           (SELECT length(bin(n)) - 1 FROM tot))) AS BIGINT) AS ts
         |       FROM pd LEFT JOIN sb USING (t) GROUP BY pd.doc_id),
         |q AS (SELECT c.doc_id, c.text, c.source,
         |        coalesce(ds.n_tokens, 0) AS n_tokens
         |      FROM corpus c LEFT JOIN ds USING (doc_id)
         |      WHERE NOT (coalesce(ds.n_tokens, 0) = 0 OR
         |        coalesce(ds.ts, 0) * 1000 > 8500 * coalesce(ds.n_tokens, 0))),
         |dd AS (SELECT q.*, row_number() OVER (
         |         PARTITION BY md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))
         |         ORDER BY doc_id) AS rn FROM q),
         |s2 AS (SELECT doc_id, text, source, n_tokens FROM dd WHERE rn = 1),
         |sh AS (SELECT doc_id AS id, ${OracleSql.Shingles3} AS shingles FROM s2),
         |${OracleSql.minhashSig(12)},
         |bands AS (${OracleSql.Bands12x4}),
         |hotb AS (SELECT bk FROM bands GROUP BY bk HAVING count(*) > 100),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |                a.shingles AS sh_a, b.shingles AS sh_b
         |         FROM bands a JOIN bands b USING (bk)
         |         WHERE a.id < b.id AND bk NOT IN (SELECT bk FROM hotb)),
         |lsh_pairs AS (SELECT id_a, id_b FROM cand
         |  WHERE CASE WHEN len(list_distinct(list_concat(sh_a, sh_b))) > 0
         |       THEN CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
         |            / CAST(len(list_distinct(list_concat(sh_a, sh_b))) AS DOUBLE)
         |       ELSE 0.0 END >= 0.5),
         |edges AS (SELECT id_a AS a, id_b AS b FROM lsh_pairs
         |          UNION SELECT id_b, id_a FROM lsh_pairs),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS r FROM s2
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id),
         |jj AS (SELECT comp.comp, comp.id, s2.n_tokens AS score
         |       FROM comp JOIN s2 ON s2.doc_id = comp.id),
         |best AS (SELECT comp, id,
         |  ROW_NUMBER() OVER (PARTITION BY comp ORDER BY score DESC, id ASC)
         |    AS rk FROM jj),
         |s3 AS (SELECT s2.* FROM s2
         |       JOIN best ON best.id = s2.doc_id AND best.rk = 1),
         |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT DISTINCT g FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |tg AS (SELECT doc_id, unnest($Grams8Sql) AS g FROM s3),
         |contam AS (SELECT DISTINCT doc_id FROM tg JOIN bg USING (g)),
         |s4 AS (SELECT * FROM s3
         |       WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |b AS (SELECT doc_id, source, n_tokens,
         |        CAST(CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 10
         |          WHEN 'src2' THEN 0 ELSE 20 END AS BIGINT) AS share FROM s4),
         |cum AS (SELECT doc_id, source, n_tokens,
         |          (20000 * share) // 1000 AS budget,
         |          sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
         |            ROWS UNBOUNDED PRECEDING) AS c
         |        FROM b)
         |SELECT CAST(doc_id AS BIGINT) AS doc_id, source,
         |       CAST(n_tokens AS BIGINT) AS n_tokens
         |FROM cum WHERE c <= budget ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val t = Tables(s, dir)
      val d = t.documents.select(col("doc_id"), col("text"), col("source"))
      // planted ids at 2^40/2^41: collision-clean headroom at ANY
      // scale factor (the q228 offset convention — +100000/+300000
      // started colliding with real doc ids at sf1.0+)
      val corpus = d
        .unionByName(d.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1099511627776L).as("doc_id"), col("text"),
            col("source")))
        .unionByName(d.filter(col("doc_id") % 6 === 0)
          .select((col("doc_id") + 2199023255552L).as("doc_id"),
            concat(col("text"), lit(" zzq"),
              (col("doc_id") % 7).cast("string")).as("text"),
            col("source")))
      val scored = graft.operators.LmOps.surprisalScores(corpus,
        vocabSize = 16, threshMilli = 8500L)
      val s1 = corpus.join(scored.filter(!col("low_quality"))
        .select(col("doc_id"), col("n_tokens")), Seq("doc_id"))
      val wd = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      // s2 feeds the minhash pipeline, the keep-best scores, the
      // survivor rejoin, AND the decon gram explode — detach it so the
      // gate + window run once
      val s2 = Materialize.detached(s1
        .withColumn("fp",
          md5(regexp_replace(lower(col("text")), "\\s+", " ")))
        .withColumn("rn", row_number().over(wd))
        .filter(col("rn") === 1).drop("fp", "rn"))
      // stage 3: the q205 doctrine inline — signatures once, banded
      // candidates under the combined hot cap, exact verify, components,
      // keep-best by token count (the longer near-twin wins). mh is
      // detached (the minhashNearDupPairs contract): the band join's
      // two sides, the hot-bucket agg, and the two shingle join-backs
      // otherwise each re-run the 12-hash signature kernel over s2.
      val mh = Materialize.detached(graft.operators.Dedup.minhashed(
        s2.select(col("doc_id"), col("text")), "doc_id", "text",
        shingleSize = 3, numHashes = 12, rowsPerBand = 3))
      val pairs = graft.operators.Dedup.nearDupPairsFromMinhashed(
        mh, threshold = 0.5, maxBucketSize = Some(100))
        .select(col("id_a"), col("id_b"))
      val comps = graft.operators.Dedup.connectedComponents(
        mh.select(col("id")), pairs)
      val kept = graft.operators.Dedup.keepBestPerComponent(comps,
        s2.select(col("doc_id").as("id"), col("n_tokens").as("score")))
      // survivors are corpus-shaped at scale: plain shuffle join, never
      // a broadcast (the q195/q205 discipline)
      val s3 = s2.join(
        kept.select(col("kept_id").as("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"))
      val bench = t.documents.filter(col("doc_id") % 40 === 0)
        .select(col("doc_id"), col("text"))
      val contaminated = CorpusOps.ngramContamination(
        s3.select(col("doc_id"), col("text")), bench,
        n = 8, maxDf = Some(20))
        .select(col("train_id").as("doc_id")).distinct()
      val s4 = s3.join(contaminated, Seq("doc_id"), "left_anti")
      val wb = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      s4
        .withColumn("share",
          when(col("source") === "src0", 300L)
            .when(col("source") === "src1", 10L)
            .when(col("source") === "src2", 0L).otherwise(20L))
        .withColumn("budget", expr("(20000 * share) DIV 1000"))
        .withColumn("cum", sum(col("n_tokens")).over(wb))
        .filter(col("cum") <= col("budget"))
        .select(col("doc_id"), col("source"), col("n_tokens"))
        .orderBy(col("doc_id"))
    },

    // Benchmark decontamination: train docs sharing an 8-gram with an
    // eval doc. Bench = every 40th doc; train = the planted +100000
    // copies of every 5th doc, so every bench doc is guaranteed one
    // contaminated twin. The maxDf=20 hot-gram cap is mirrored in the
    // oracle (inert at sf0.01 where bench df <= 13, live at sf0.1).
    "q65_decontamination" -> QueryDef(
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 40 = 0),
         |train AS (SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT * FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |tg AS (SELECT doc_id AS train_id, unnest($Grams8Sql) AS g FROM train)
         |SELECT train_id, bench_id, count(*) AS n_shared
         |FROM tg JOIN bg USING (g)
         |GROUP BY train_id, bench_id
         |ORDER BY train_id, bench_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val bench = d.filter(col("doc_id") % 40 === 0).select(col("doc_id"), col("text"))
      val train = d.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      CorpusOps.ngramContamination(train, bench, n = 8, maxDf = Some(20))
        .orderBy(col("train_id"), col("bench_id"))
    },

    // Bloom-prefiltered decontamination: SAME answer as the exact join
    // (the confirm join strips Bloom false positives; false negatives
    // cannot exist), different scale shape — corpus grams pass a
    // broadcast Bloom predicate BEFORE any shuffle, so only the
    // contaminated-plus-fpp fraction of the corpus ever moves. The
    // oracle is therefore the plain exact-contamination SQL.
    "q103_bloom_decontamination" -> QueryDef(
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 30 = 0),
         |train AS (SELECT doc_id + 200000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT * FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |tg AS (SELECT doc_id AS train_id, unnest($Grams8Sql) AS g FROM train)
         |SELECT train_id, bench_id, count(*) AS n_shared
         |FROM tg JOIN bg USING (g)
         |GROUP BY train_id, bench_id
         |ORDER BY train_id, bench_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val bench = d.filter(col("doc_id") % 30 === 0).select(col("doc_id"), col("text"))
      val train = d.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), col("text"))
      CorpusOps.bloomContamination(train, bench, n = 8, maxDf = Some(20),
        fpp = 0.03)
        .orderBy(col("train_id"), col("bench_id"))
    },

    // Chunk-level exact dedup (paragraph dedup over token-window chunks):
    // first occurrence of each chunk fingerprint in (doc_id, chunk_idx)
    // order survives; per-doc retention accounting. The oracle re-derives
    // the q72 chunking then ranks occurrences per fingerprint.
    "q104_chunk_dedup" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |c AS (SELECT doc_id, i AS chunk_idx,
         |             ts[CAST(i*48+1 AS INT):CAST(i*48+64 AS INT)] AS c
         |      FROM t, unnest(range((len(ts) - 1) // 48 + 1)) AS u(i)
         |      WHERE len(ts) > 0),
         |f AS (SELECT doc_id, chunk_idx, CAST(len(c) AS BIGINT) AS n_toks,
         |             md5(array_to_string(c, ' ')) AS fp FROM c),
         |r AS (SELECT doc_id, chunk_idx, n_toks,
         |             ROW_NUMBER() OVER (PARTITION BY fp
         |               ORDER BY doc_id ASC, chunk_idx ASC) = 1 AS kept
         |      FROM f)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks,
         |       CAST(coalesce(sum(CASE WHEN kept THEN n_toks END), 0) AS BIGINT) AS n_kept_tokens
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.chunkDedup(Tables(s, dir).documents, size = 64, stride = 48)
        .orderBy(col("doc_id"))
    },

    // Chunk dedup with document rewrite: the corpus that continues down
    // the pipeline — each doc reassembled from its surviving (first-
    // occurrence) chunks in order. Tiling 48-token chunks.
    "q110_chunk_dedup_rewrite" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |c AS (SELECT doc_id, i AS chunk_idx,
         |             ts[CAST(i*48+1 AS INT):CAST(i*48+48 AS INT)] AS c
         |      FROM t, unnest(range((len(ts) - 1) // 48 + 1)) AS u(i)
         |      WHERE len(ts) > 0),
         |f AS (SELECT doc_id, chunk_idx, array_to_string(c, ' ') AS ctext,
         |             md5(array_to_string(c, ' ')) AS fp FROM c),
         |r AS (SELECT doc_id, chunk_idx, ctext,
         |             ROW_NUMBER() OVER (PARTITION BY fp
         |               ORDER BY doc_id ASC, chunk_idx ASC) = 1 AS kept
         |      FROM f)
         |SELECT doc_id, count(*) AS n_chunks,
         |       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept_chunks,
         |       coalesce(string_agg(CASE WHEN kept THEN ctext END, ' '
         |                           ORDER BY chunk_idx), '') AS text
         |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.chunkDedupRewrite(Tables(s, dir).documents, size = 48, stride = 48)
        .select(col("doc_id"), col("n_chunks"), col("n_kept_chunks"), col("text"))
        .orderBy(col("doc_id"))
    },

    // Doc-level decontaminated ADMISSION, bloom-prefiltered: only docs
    // the Bloom filter flags as possibly-contaminated enter the exact
    // confirm join; the admitted set equals the exact anti-join (the
    // oracle), because the confirm strips Bloom false positives and
    // false negatives cannot exist. Bench docs are drawn from the corpus
    // itself, so each is its own guaranteed contamination hit.
    "q108_bloom_admission" -> QueryDef(
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 30 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT * FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |dg AS (SELECT doc_id, unnest($Grams8Sql) AS g FROM documents),
         |bad AS (SELECT DISTINCT dg.doc_id FROM dg JOIN bg USING (g))
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM bad)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      // the bench artifacts (bloom + df-capped gram table) come from the
      // persisted fixture — shipped once per benchmark release, not
      // rebuilt per ingestion pass
      val (bytes, benchGrams) = benchDecontamFixture(s, dir)
      // bloom marks candidate DOCS via the one-pass string-free kernel
      // probe (per-row predicate, no shuffle); only confirmed
      // candidates ever materialize gram strings, in the exact join
      val candidates = d.filter(exists(
        CorpusOps.tokenWindowHashes(col("text"), 8),
        h => CorpusOps.bloomMightContainLong(bytes, h)))
      val confirmed = CorpusOps.contaminationMatches(
        candidates.select(col("doc_id"), col("text")), benchGrams, n = 8)
        .select(col("doc_id")).distinct()
      d.join(confirmed, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    },

    // Contamination SPAN report: WHERE the leak is — per doc, token
    // positions inside an 8-gram window shared with the (df-capped)
    // bench set, merged gaps-and-islands into maximal spans. Positional
    // attribution for the decontamination family; sub-8-token docs are
    // the doc gate's domain and report zero here.
    "q125_contamination_spans" -> QueryDef(
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 30 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT DISTINCT g FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |p AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             array_to_string(ts[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
         |      FROM t, unnest(range(len(ts) - 7)) AS u(i)
         |      WHERE len(ts) >= 8),
         |bad AS (SELECT doc_id, pos FROM p WHERE g IN (SELECT g FROM bg)),
         |ni AS (SELECT doc_id, pos,
         |        CASE WHEN pos > coalesce(max(pos + 8) OVER (
         |               PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |             THEN 1 ELSE 0 END AS new_island FROM bad),
         |si AS (SELECT doc_id, pos, sum(new_island) OVER (
         |        PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM ni),
         |isl AS (SELECT doc_id, island, min(pos) AS s, max(pos + 8) AS e
         |        FROM si GROUP BY 1, 2),
         |a AS (SELECT doc_id, count(*) AS n_bad_spans,
         |             sum(e - s) AS n_bad_tokens FROM isl GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(a.n_bad_tokens, 0) AS BIGINT) AS n_bad_tokens,
         |       CAST(coalesce(a.n_bad_spans, 0) AS BIGINT) AS n_bad_spans,
         |       CAST(CASE WHEN len(t.ts) = 0 THEN 0
         |            ELSE (coalesce(a.n_bad_tokens, 0) * 1000) // len(t.ts)
         |       END AS BIGINT) AS bad_permille
         |FROM t LEFT JOIN a ON t.doc_id = a.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val (_, benchGrams) = benchDecontamFixture(s, dir)
      CorpusOps.contaminationSpans(Tables(s, dir).documents, benchGrams, n = 8)
        .orderBy(col("doc_id"))
    },

    // Contamination REWRITE: surgical decontamination — the corpus that
    // continues down the pipeline with every bench-shared span cut out,
    // instead of dropping whole documents (q108's admission gate is the
    // drop policy; this is the keep-the-clean-remainder policy).
    "q126_contamination_rewrite" -> QueryDef(
      s"""WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 30 = 0),
         |bg0 AS (SELECT doc_id AS bench_id, unnest($Grams8Sql) AS g FROM bench),
         |hot AS (SELECT g FROM bg0 GROUP BY g HAVING count(*) > 20),
         |bg AS (SELECT DISTINCT g FROM bg0 WHERE g NOT IN (SELECT g FROM hot)),
         |t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |pg AS (SELECT doc_id, CAST(i AS BIGINT) AS pos,
         |             array_to_string(ts[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ') AS g
         |      FROM t, unnest(range(len(ts) - 7)) AS u(i)
         |      WHERE len(ts) >= 8),
         |bad AS (SELECT doc_id, pos FROM pg WHERE g IN (SELECT g FROM bg)),
         |ni AS (SELECT doc_id, pos,
         |        CASE WHEN pos > coalesce(max(pos + 8) OVER (
         |               PARTITION BY doc_id ORDER BY pos
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |             THEN 1 ELSE 0 END AS new_island FROM bad),
         |si AS (SELECT doc_id, pos, sum(new_island) OVER (
         |        PARTITION BY doc_id ORDER BY pos
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |      FROM ni),
         |isl AS (SELECT doc_id, island, min(pos) AS s, max(pos + 8) AS e
         |        FROM si GROUP BY 1, 2),
         |p AS (SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
         |             ts[CAST(u.i + 1 AS INT)] AS tok
         |      FROM t, unnest(range(len(ts))) AS u(i)),
         |k AS (SELECT p.doc_id, p.pos, p.tok FROM p
         |      WHERE NOT EXISTS (SELECT 1 FROM isl
         |        WHERE isl.doc_id = p.doc_id
         |          AND p.pos >= isl.s AND p.pos < isl.e)),
         |a2 AS (SELECT doc_id, count(*) AS n,
         |              string_agg(tok, ' ' ORDER BY pos) AS text
         |       FROM k GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(a2.n, 0) AS BIGINT) AS n_kept_tokens,
         |       coalesce(a2.text, '') AS text
         |FROM t LEFT JOIN a2 ON t.doc_id = a2.doc_id
         |ORDER BY t.doc_id""".stripMargin) { (s, dir) =>
      val (_, benchGrams) = benchDecontamFixture(s, dir)
      CorpusOps.contaminationRewrite(Tables(s, dir).documents, benchGrams, n = 8)
        .orderBy(col("doc_id"))
    },

    // Stable hash split: every doc's bucket and train/val/test assignment
    // from FNV-1a64(doc_id) — grows-stable, engine-exact (the q50 kernel).
    "q66_hash_split" -> QueryDef(
      s"""SELECT doc_id, lang,
         |       ${fnvBucketSql("CAST(doc_id AS VARCHAR)")} AS bucket,
         |       CASE WHEN ${fnvBucketSql("CAST(doc_id AS VARCHAR)")} < 500 THEN 'test'
         |            WHEN ${fnvBucketSql("CAST(doc_id AS VARCHAR)")} < 1000 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.hashSplit(Tables(s, dir).documents)
        .select(col("doc_id"), col("lang"),
          CorpusOps.splitBucket(col("doc_id")).as("bucket"), col("split"))
        .orderBy(col("doc_id"))
    },

    // TF-IDF top-5 terms per document, integer idf proxy (exact in both
    // engines; same total order as ln(N/df) since both fall in df).
    "q67_tfidf_topk" -> QueryDef(
      s"""WITH terms AS (SELECT doc_id, unnest($ToksSql) AS term FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
         |dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM terms GROUP BY term),
         |n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
         |scored AS (SELECT doc_id, term, tf, df,
         |                  tf * ((nd * 1000) // df) AS score
         |           FROM tf JOIN dfreq USING (term), n),
         |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |                      ORDER BY score DESC, term ASC) AS rnk
         |           FROM scored)
         |SELECT doc_id, term, tf, df, score, rnk
         |FROM ranked WHERE rnk <= 5
         |ORDER BY doc_id, rnk""".stripMargin) { (s, dir) =>
      CorpusOps.tfIdfTopK(Tables(s, dir).documents, k = 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("score"), col("rank").cast("long").as("rnk"))
        .orderBy(col("doc_id"), col("rnk"))
    },

    // Repetition quality signals (Gopher-rule family): repetition ratio
    // + most-frequent-2-gram fraction per doc. Single int divisions only.
    "q69_repetition_quality" -> QueryDef(
      s"""WITH base AS (
         |  SELECT doc_id, len($ToksSql) AS n_tokens,
         |         len(list_distinct($ToksSql)) AS n_distinct,
         |         len(CASE WHEN len($ToksSql) >= 2
         |             THEN list_transform(range(len($ToksSql) - 1),
         |                  i -> array_to_string(($ToksSql)[i+1:i+2], ' '))
         |             ELSE [array_to_string($ToksSql, ' ')] END) AS n_grams
         |  FROM documents),
         |g AS (SELECT doc_id, unnest(CASE WHEN len($ToksSql) >= 2
         |         THEN list_transform(range(len($ToksSql) - 1),
         |              i -> array_to_string(($ToksSql)[i+1:i+2], ' '))
         |         ELSE [array_to_string($ToksSql, ' ')] END) AS gram
         |      FROM documents),
         |top AS (SELECT doc_id, max(n) AS top_n FROM (
         |          SELECT doc_id, gram, count(*) AS n FROM g GROUP BY doc_id, gram)
         |        GROUP BY doc_id)
         |SELECT b.doc_id, CAST(n_tokens AS INT) AS n_tokens,
         |       CAST(n_distinct AS INT) AS n_distinct,
         |       CASE WHEN n_tokens > 0
         |            THEN 1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE)
         |            ELSE 0.0 END AS rep_ratio,
         |       CASE WHEN n_grams > 0
         |            THEN CAST(top_n AS DOUBLE) / CAST(n_grams AS DOUBLE)
         |            ELSE 0.0 END AS top2gram_frac
         |FROM base b LEFT JOIN top t ON b.doc_id = t.doc_id
         |ORDER BY b.doc_id""".stripMargin) { (s, dir) =>
      CorpusOps.repetitionSignals(Tables(s, dir).documents)
        .orderBy(col("doc_id"))
    },

    // PII scrubbing over planted contact strings: the scrub is
    // byte-identical cross-engine (patterns limited to shared
    // Java-regex/RE2 semantics); counts come from the pre-scrub text.
    "q70_pii_scrub" -> QueryDef(
      s"""WITH planted AS (
         |  SELECT doc_id,
         |         substr(text, 1, 40) || ' contact user' || doc_id ||
         |         '@example.com or +1 555 000 ' || (doc_id % 10000) AS text
         |  FROM documents),
         |scrubbed AS (
         |  SELECT doc_id,
         |         len(regexp_extract_all(text, '${CorpusOps.EmailRe}')) AS n_emails,
         |         len(regexp_extract_all(text, '${CorpusOps.PhoneRe}')) AS n_phones,
         |         regexp_replace(regexp_replace(text, '${CorpusOps.EmailRe}', '[EMAIL]', 'g'),
         |                        '${CorpusOps.PhoneRe}', '[PHONE]', 'g') AS clean
         |  FROM planted)
         |SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
         |       CAST(n_phones AS INT) AS n_phones, clean
         |FROM scrubbed ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val planted = Tables(s, dir).documents.select(col("doc_id"),
        concat(substring(col("text"), 1, 40),
          lit(" contact user"), col("doc_id"), lit("@example.com or +1 555 000 "),
          col("doc_id") % 10000).as("text"))
      val (ne, np) = CorpusOps.piiCounts(col("text"))
      planted.select(col("doc_id"),
        ne.as("n_emails"), np.as("n_phones"),
        CorpusOps.scrubPii(col("text")).as("clean"))
        .orderBy(col("doc_id"))
    },

    // Deterministic stratified sample: 10 docs per language by md5(id)
    // hash order — stable across runs, engines, and corpus growth.
    "q71_stratified_sample" -> QueryDef(
      """WITH ranked AS (
        |  SELECT doc_id, lang, source,
        |         ROW_NUMBER() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS sample_rank
        |  FROM documents)
        |SELECT doc_id, lang, source, sample_rank
        |FROM ranked WHERE sample_rank <= 10
        |ORDER BY lang, sample_rank""".stripMargin) { (s, dir) =>
      CorpusOps.stratifiedSample(
        Tables(s, dir).documents.select(col("doc_id"), col("lang"), col("source")),
        groupCol = "lang", k = 10)
        .select(col("doc_id"), col("lang"), col("source"),
          col("sample_rank").cast("long").as("sample_rank"))
        .orderBy(col("lang"), col("sample_rank"))
    },

    // Deterministic corpus mixing: src0 halved, src1 kept at 10%, src2
    // dropped, everything else full rate — per-doc survival from the
    // stable FNV bucket, aggregated per source for the mix report.
    "q76_corpus_mixing" -> QueryDef(
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         ${fnvBucketSql("CAST(doc_id AS VARCHAR)")} AS bucket
         |  FROM documents),
         |kept AS (
         |  SELECT doc_id, source FROM b
         |  WHERE bucket < 10 * (CASE source WHEN 'src0' THEN 500
         |                                   WHEN 'src1' THEN 100
         |                                   WHEN 'src2' THEN 0
         |                                   ELSE 1000 END)),
         |tot AS (SELECT source, count(*) AS n_total FROM documents GROUP BY source)
         |SELECT t.source, t.n_total,
         |       coalesce(k.n_kept, 0) AS n_kept
         |FROM tot t LEFT JOIN
         |     (SELECT source, count(*) AS n_kept FROM kept GROUP BY source) k
         |  ON t.source = k.source
         |ORDER BY t.source""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents
      val kept = CorpusOps.mixSources(d,
        Map("src0" -> 500, "src1" -> 100, "src2" -> 0))
        .groupBy(col("source")).agg(count(lit(1)).as("n_kept"))
      d.groupBy(col("source")).agg(count(lit(1)).as("n_total"))
        .join(kept, Seq("source"), "left")
        .select(col("source"), col("n_total"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy(col("source"))
    },

    // Temperature-balanced (T = 0.5) source mixing report: target share
    // per source ∝ √n instead of n, rate normalized so the smallest
    // source keeps full rate. All arithmetic integer-exact
    // (w = ⌊√n⌋, rate = min(1000, ⌊1000·w·n_p / (n·w_p)⌋) with pivot p
    // the min-count source, ties by name) and membership is the stable
    // FNV permille bucket — both engines reproduce the report
    // bit-for-bit.
    "q120_temperature_mix" -> QueryDef(
      s"""WITH tot AS (SELECT source, count(*) AS n_total,
         |             CAST(floor(sqrt(count(*))) AS BIGINT) AS weight
         |             FROM documents GROUP BY source),
         |p AS (SELECT n_total AS n_p, weight AS w_p FROM tot
         |      ORDER BY n_total ASC, source ASC LIMIT 1),
         |r AS (SELECT source, n_total, weight,
         |        CAST(least(1000, 1000 * weight * n_p // (n_total * w_p))
         |             AS BIGINT) AS rate_permille
         |      FROM tot, p),
         |kept AS (SELECT d.source, count(*) AS n_kept
         |         FROM documents d JOIN r USING (source)
         |         WHERE ${fnvBucketSql("CAST(doc_id AS VARCHAR)")}
         |               < rate_permille * 10
         |         GROUP BY d.source)
         |SELECT r.source, r.n_total, r.weight, r.rate_permille,
         |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
         |FROM r LEFT JOIN kept k ON r.source = k.source
         |ORDER BY r.source""".stripMargin) { (s, dir) =>
      CorpusOps.temperatureMixReport(Tables(s, dir).documents)
        .orderBy(col("source"))
    },

    // Deterministic global training order: pos == the rank in md5-hash
    // order, computed bucket-parallel (hash-prefix ranges + offsets)
    // instead of a one-partition global sort. The oracle IS the naive
    // global form — both engines must agree rank-for-rank.
    "q79_training_order" -> QueryDef(
      """SELECT doc_id, lang, pos FROM (
        |  SELECT doc_id, lang,
        |         ROW_NUMBER() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC,
        |                            doc_id ASC) AS pos
        |  FROM documents)
        |WHERE pos % 100 = 1 ORDER BY pos""".stripMargin) { (s, dir) =>
      CorpusOps.trainingOrder(
        Tables(s, dir).documents.select(col("doc_id"), col("lang")))
        .filter(col("pos") % 100 === 1)
        .select(col("doc_id"), col("lang"), col("pos"))
        .orderBy(col("pos"))
    },

    // Token-budget allocation: 1M-token mix with src0 at 30%, src1 at
    // 1%, src2 excluded, everything else 2% — per-source required
    // tokens, exact ceil-division sampling rate, feasibility flag.
    "q80_token_budget" -> QueryDef(
      s"""WITH t AS (SELECT source, CAST(sum(len($ToksSql)) AS BIGINT) AS n_tokens
         |           FROM documents GROUP BY source),
         |s AS (SELECT source, n_tokens,
         |        CAST(CASE source WHEN 'src0' THEN 300 WHEN 'src1' THEN 10
         |             WHEN 'src2' THEN 0 ELSE 20 END AS BIGINT) AS share_permille
         |      FROM t),
         |p AS (SELECT source, n_tokens, share_permille,
         |        (1000000 * share_permille) // 1000 AS tokens_required
         |      FROM s)
         |SELECT source, n_tokens, share_permille, tokens_required,
         |       CASE WHEN tokens_required = 0 THEN 0
         |            WHEN n_tokens = 0 THEN 1000
         |            ELSE least(1000, (tokens_required * 1000 + n_tokens - 1) // n_tokens)
         |       END AS rate_permille,
         |       n_tokens >= tokens_required AS feasible
         |FROM p ORDER BY source""".stripMargin) { (s, dir) =>
      CorpusOps.tokenBudget(Tables(s, dir).documents, budgetTokens = 1000000L,
        sharesPermille = Map("src0" -> 300, "src1" -> 10, "src2" -> 0),
        defaultPermille = 20)
        .orderBy(col("source"))
    },

    // Overlapping token-window chunking (the chunk half of the standard
    // chunk -> embed -> mean-pool document-embedding pipeline; q61 is the
    // pool half). Chunk text travels as md5 fingerprints.
    "q72_doc_chunking" -> QueryDef(
      s"""WITH t AS (SELECT doc_id, $ToksSql AS ts FROM documents),
         |c AS (SELECT doc_id, i AS chunk_idx,
         |             ts[CAST(i*48+1 AS INT):CAST(i*48+64 AS INT)] AS c
         |      FROM t, unnest(range((len(ts) - 1) // 48 + 1)) AS u(i)
         |      WHERE len(ts) > 0)
         |SELECT doc_id, chunk_idx, CAST(len(c) AS INT) AS n_chunk_tokens,
         |       md5(array_to_string(c, ' ')) AS chunk_fp
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
      CorpusOps.chunkTokens(Tables(s, dir).documents, size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_idx"))
    },

    // Per-language token-length distribution with rank-defined quantiles
    // (value at ceil(n/2) / ceil(0.9 n) in (len, id) order — integer rank
    // selection, engine-exact; no interpolation).
    "q73_length_quantiles" -> QueryDef(
      s"""WITH l AS (SELECT lang AS g, doc_id AS id,
         |                  CAST(len($ToksSql) AS BIGINT) AS len
         |           FROM documents),
         |r AS (SELECT g, id, len,
         |             CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY len ASC, id ASC) AS BIGINT) AS rn
         |      FROM l),
         |c AS (SELECT g, count(*) AS n_docs, min(len) AS min_len, max(len) AS max_len,
         |             (count(*) + 1) // 2 AS med_rn,
         |             (9 * count(*) + 9) // 10 AS p90_rn
         |      FROM l GROUP BY g)
         |SELECT c.g, c.n_docs, c.min_len,
         |       max(CASE WHEN r.rn = c.med_rn THEN r.len END) AS median_len,
         |       max(CASE WHEN r.rn = c.p90_rn THEN r.len END) AS p90_len,
         |       c.max_len
         |FROM r JOIN c USING (g)
         |GROUP BY c.g, c.n_docs, c.min_len, c.max_len
         |ORDER BY c.g""".stripMargin) { (s, dir) =>
      CorpusOps.lengthQuantiles(Tables(s, dir).documents, groupCol = "lang")
        .orderBy(col("g"))
    },

    // GK-sketch approximate quantiles — the 100 TB form of q73 (no
    // per-group sort; map-side combinable). DuckDB's approx_quantile is
    // t-digest — a different sketch with different (valid) answers — so
    // the ESTIMATES stay out of the row: the result is the exact
    // n/min/max plus per-percentile rank-error verdicts (true rank of
    // the GK estimate within ±max(1, ⌈n/accuracy⌉) of ⌈p·n⌉), which the
    // oracle asserts as literal TRUE. A hash match PROVES the GK
    // contract held; the raw-estimate form stays available as
    // lengthQuantilesApprox (spec-pinned in CorpusOpsSpec).
    "q109_approx_quantiles" -> QueryDef(
      s"""WITH l AS (SELECT lang AS g, CAST(len($ToksSql) AS BIGINT) AS len
         |           FROM documents)
         |SELECT g, count(*) AS n_docs, min(len) AS min_len,
         |       max(len) AS max_len,
         |       TRUE AS gk_median_ok, TRUE AS gk_p90_ok
         |FROM l GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
      CorpusOps.lengthQuantilesApproxChecked(
        Tables(s, dir).documents, groupCol = "lang")
        .orderBy(col("g"))
    },

    // Chunked contiguous sequence packing into 512-token windows,
    // 100-doc chunks (the parallel packing shape: global first-fit is
    // sequential; chunks pack independently).
    "q68_sequence_packing" -> QueryDef(
      s"""WITH d AS (SELECT doc_id,
         |             CAST(least(len($ToksSql), 512) AS BIGINT) AS toks,
         |             doc_id // 100 AS chunk
         |           FROM documents),
         |c AS (SELECT doc_id, chunk, toks,
         |             CAST(sum(toks) OVER (PARTITION BY chunk ORDER BY doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM d)
         |SELECT doc_id, chunk,
         |       chunk * 1000000 + ((cum - toks) // 512) AS pack_id,
         |       toks, cum
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      CorpusOps.packChunked(d, capacity = 512L, chunkSize = 100L)
        .orderBy(col("doc_id"))
    },

    // Quality-filter funnel: 4-stage cascade (min length -> min tokens ->
    // stopword-heuristic english -> low token repetition) with per-stage
    // entered/dropped/survived accounting and exact integer drop rates.
    // One corpus pass: first-fail attribution in a single when-chain.
    "q81_quality_funnel" -> QueryDef({
      val hitSql = TextFunctions.StopwordLists.map { case (lang, words) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        lang -> s"len(list_filter(toks, t -> t IN ($inList)))"
      }
      val bestSql = hitSql.map(_._2).mkString("greatest(", ", ", ")")
      val caseSql = hitSql.sortBy(_._1).reverse
        .foldLeft("'und'") { case (acc, (lang, h)) =>
          s"CASE WHEN best > 0 AND $h = best THEN '$lang' ELSE $acc END"
        }
      s"""WITH t AS (SELECT doc_id, text, $ToksSql AS toks FROM documents),
         |b AS (SELECT *, $bestSql AS best FROM t),
         |f AS (SELECT doc_id,
         |        CASE WHEN NOT (length(text) >= 200) THEN 0
         |             WHEN NOT (len(toks) >= 30) THEN 1
         |             WHEN NOT (($caseSql) = 'en') THEN 2
         |             WHEN NOT (len(list_distinct(toks)) * 2 >= len(toks)) THEN 3
         |             ELSE -1 END AS ff
         |      FROM b),
         |c AS (SELECT ff, CAST(count(*) AS BIGINT) AS n FROM f GROUP BY ff),
         |total AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
         |dim AS (SELECT * FROM (VALUES (0, 'min_length'), (1, 'min_tokens'),
         |                              (2, 'english'), (3, 'low_repetition'))
         |        AS v(stage_idx, stage)),
         |j AS (SELECT d.stage_idx, d.stage,
         |             CAST(coalesce(c.n, 0) AS BIGINT) AS dropped
         |      FROM dim d LEFT JOIN c ON d.stage_idx = c.ff),
         |e AS (SELECT stage_idx, stage, dropped,
         |        (SELECT tot FROM total) - CAST(coalesce(
         |          sum(dropped) OVER (ORDER BY stage_idx
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |          AS BIGINT) AS entered
         |      FROM j)
         |SELECT stage_idx, stage, entered, dropped,
         |       entered - dropped AS survived,
         |       CASE WHEN entered > 0 THEN (dropped * 1000) // entered
         |       END AS drop_permille
         |FROM e ORDER BY stage_idx""".stripMargin
    }) { (s, dir) =>
      val rep = graft.functions.RepetitionStatsExpr.of(col("text"))
      val lang = graft.functions.LangQualityExpr.of(col("text")).getField("lang")
      CorpusOps.qualityFunnel(Tables(s, dir).documents, Seq(
        "min_length" -> (length(col("text")) >= 200),
        "min_tokens" -> (rep.getField("n_tokens") >= 30),
        "english" -> (lang === "en"),
        "low_repetition" ->
          (rep.getField("n_distinct") * 2 >= rep.getField("n_tokens"))))
        .orderBy(col("stage_idx"))
    },

    // Snapshot diff between two corpus versions: added / removed /
    // changed / unchanged per doc id, content equality by normalized
    // md5 — one full-outer join on id, text never shuffles. Old drops
    // id%5=0, new drops id%7=0 and mutates id%3=0, so all four classes
    // appear.
    "q82_corpus_diff" -> QueryDef(
      """WITH old AS (
        |  SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 5 != 0),
        |nw AS (
        |  SELECT doc_id, md5(regexp_replace(lower(
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END),
        |    '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 7 != 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.fp IS NULL THEN 'added'
        |            WHEN n.fp IS NULL THEN 'removed'
        |            WHEN o.fp != n.fp THEN 'changed'
        |            ELSE 'unchanged' END AS status
        |FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"), col("text"))
      val old = d.filter(col("doc_id") % 5 =!= 0)
      val nw = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      CorpusOps.corpusDiff(old, nw).orderBy(col("doc_id"))
    },

    // Phrase (word-3-gram) inverted index with df-capped posting lists.
    // The cap excludes boilerplate-class phrases BEFORE aggregation, so
    // no posting array can exceed maxDf entries — the boundedness
    // guardrail, not an approximation. (Single tokens are useless here:
    // the synthetic vocabulary has 31 terms, all near-ubiquitous; the
    // 3-gram space is 16k-27k phrases and the df=20 cap binds at sf0.1.)
    "q84_inverted_index" -> QueryDef(
      s"""WITH td AS (SELECT DISTINCT doc_id, t AS term
         |            FROM documents, unnest($Grams3Sql) AS u(t)),
         |f AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |      FROM td GROUP BY term HAVING count(*) <= 20)
         |SELECT term, df,
         |       array_to_string(list_sort(list(doc_id)), ',') AS postings
         |FROM td JOIN f USING (term)
         |GROUP BY term, df
         |ORDER BY term""".stripMargin) { (s, dir) =>
      // postings ride as a comma-joined string: the harness compare
      // flattens arrays (same convention as q60's posexplode)
      // the native one-pass shingle kernel, not the declarative HOF
      // form: the (doc, gram) explode is evaluated once per aggregation
      // and the interpreted transform+concat_ws lambdas dominated the
      // bench (7.9 s -> sub-second at sf0.1)
      CorpusOps.invertedIndex(Tables(s, dir).documents, maxDf = 20,
        termsOf = c =>
          graft.functions.ShingleExpressions.wordShinglesDistinct(c, 3))
        .withColumn("postings", concat_ws(",", col("postings")))
        .orderBy(col("term"))
    },

    // Pack segments: the chop half of q68's packing — one row per
    // (doc, pack) segment with in-pack offset and length, so straddling
    // docs materialize correctly into fixed 512-token windows.
    "q85_pack_segments" -> QueryDef(
      s"""WITH d AS (SELECT doc_id,
         |             CAST(least(len($ToksSql), 512) AS BIGINT) AS toks,
         |             doc_id // 100 AS chunk
         |           FROM documents),
         |c AS (SELECT doc_id, chunk, toks,
         |             CAST(sum(toks) OVER (PARTITION BY chunk ORDER BY doc_id
         |                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM d),
         |s AS (SELECT doc_id, chunk, toks, cum, cum - toks AS strt FROM c),
         |seg AS (SELECT doc_id, chunk, strt, cum,
         |          unnest(range(strt // 512,
         |            (CASE WHEN cum > strt THEN (cum - 1) // 512
         |                  ELSE strt // 512 END) + 1)) AS seg_pack
         |        FROM s),
         |o AS (SELECT doc_id, chunk,
         |        chunk * 1000000 + seg_pack AS pack_id,
         |        greatest(strt, seg_pack * 512) - seg_pack * 512 AS seg_offset,
         |        least(cum, seg_pack * 512 + 512)
         |          - greatest(strt, seg_pack * 512) AS seg_len
         |      FROM seg)
         |SELECT doc_id, chunk, pack_id, seg_offset, seg_len
         |FROM o WHERE seg_len > 0
         |ORDER BY doc_id, pack_id""".stripMargin) { (s, dir) =>
      val d = Tables(s, dir).documents.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"))
      CorpusOps.packSegments(d, capacity = 512L, chunkSize = 100L)
        .orderBy(col("doc_id"), col("pack_id"))
    },

    // Deflate-ratio quality signal alongside the repetition family:
    // byte-level redundancy the token heuristics can't see (near-repeats,
    // long-range copies).
    //
    // DuckDB has no deflate, so no cross-engine SQL can recompute
    // compression_permille — the oracle instead JOINS a witness fixture
    // ([[ensureDeflateFixture]]): the same column re-derived by an
    // implementation sharing no code with CompressionRatioExpr, built
    // once per (session, sf) and path-substituted into the SQL by
    // Verify (the IVF-fixture pattern). The hash compare therefore
    // checks the codegen'd expression against an independent deflate
    // AND the repetition leg against DuckDB's own recomputation.
    "q88_compression_quality" -> QueryDef(
      s"""WITH w AS (SELECT doc_id, witness_permille
         |           FROM read_parquet('$DeflateFixtureToken/witness/*.parquet')),
         |r AS (SELECT doc_id,
         |        CASE WHEN len($ToksSql) > 0
         |             THEN 1000 - (len(list_distinct($ToksSql)) * 1000)
         |                  // len($ToksSql)
         |             ELSE 0 END AS repetition_permille
         |      FROM documents)
         |SELECT r.doc_id,
         |       CAST(w.witness_permille AS INTEGER) AS compression_permille,
         |       CAST(r.repetition_permille AS BIGINT) AS repetition_permille
         |FROM r JOIN w ON r.doc_id = w.doc_id
         |ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
      ensureDeflateFixture(s, dir)
      val rep = graft.functions.RepetitionStatsExpr.of(col("text"))
      // integer permille like every other rate in this module (a double
      // division here would put fractional values in a _permille column
      // and int*1000 could overflow past 2.1M distinct tokens)
      Tables(s, dir).documents.select(col("doc_id"),
        graft.functions.CompressionRatioExpr.of(col("text"))
          .as("compression_permille"),
        rep.getField("n_tokens").cast("long").as("_nt"),
        rep.getField("n_distinct").cast("long").as("_nd"))
        .withColumn("repetition_permille",
          when(col("_nt") > 0, expr("1000L - (_nd * 1000L) div _nt"))
            .otherwise(lit(0L)))
        .drop("_nt", "_nd")
        .orderBy(col("doc_id"))
    },

    // The hash-green companion of q88: the deflate kernel has no DuckDB
    // equivalent, so the compression-quality component is ALSO verified
    // through this oracled proxy — token-repetition and distinct-2-gram
    // redundancy permille (integer-exact cross-engine), banded by
    // permille decile. Same signal intent: redundant text compresses
    // well AND repeats tokens/grams; the banded histogram is the
    // keep/drop decision surface.
    "q100_redundancy_bands" -> QueryDef(
      s"""WITH base AS (
         |  SELECT doc_id,
         |         len($ToksSql) AS n_tokens,
         |         len(list_distinct($ToksSql)) AS n_distinct,
         |         len($Grams2Sql) AS n_grams,
         |         len(list_distinct($Grams2Sql)) AS n_distinct_grams
         |  FROM documents),
         |p AS (
         |  SELECT doc_id,
         |    CASE WHEN n_tokens > 0
         |         THEN 1000 - (n_distinct * 1000) // n_tokens ELSE 0 END AS rep_permille,
         |    CASE WHEN n_grams > 0
         |         THEN 1000 - (n_distinct_grams * 1000) // n_grams ELSE 0 END AS gram_permille
         |  FROM base)
         |SELECT CAST(rep_permille // 100 AS BIGINT) AS band,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(min(rep_permille) AS BIGINT) AS min_rep,
         |       CAST(max(rep_permille) AS BIGINT) AS max_rep,
         |       CAST(sum(gram_permille) AS BIGINT) AS sum_gram_permille
         |FROM p GROUP BY 1 ORDER BY band""".stripMargin) { (s, dir) =>
      CorpusOps.redundancyBands(Tables(s, dir).documents)
        .orderBy(col("band"))
    },

    // BM25 ranked retrieval through the inverted index (the lexical
    // complement of the dense ANN family): the first 8 docs serve as
    // queries, their DISTINCT terms probe the postings via a broadcast
    // join (never a corpus cross join), and per-(query, doc) scores
    // fold term contributions TERM-ASCENDING (the q151 ordered
    // association). idf is the q67 integer milli proxy — exact in both
    // engines, same total order as ln(N/df); the rest of the weight is
    // a fixed-shape double expression both engines evaluate
    // operation-for-operation.
    "q153_bm25_topk" -> QueryDef(bm25Sql(pruned = false)) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // The pruned two-phase variant: per-term impact-ordered champion
    // lists (top-64 postings by the doc-length-normalized tf weight)
    // generate the candidate set — the union over a query's terms,
    // ≤ |query terms| × 64 docs REGARDLESS of corpus size — and the
    // candidates are then re-scored EXACTLY against the full postings.
    // Every emitted score is bit-identical to q153's row for the same
    // pair; only docs outside every champion list can be missed
    // (RetrievalSpec pins overlap@10 ≥ 0.8 on the real corpus).
    "q154_bm25_champions" -> QueryDef(bm25Sql(pruned = true)) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      graft.operators.Retrieval.bm25TopKPruned(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 10,
        c = ChampionC)
        .orderBy(col("query_id"), col("rank"))
    },

    // Hybrid retrieval: reciprocal-rank fusion of the lexical BM25
    // top-20 (q153's ranking) and the dense cosine top-20 (q31's exact
    // ANN over the same ids) — the standard two-tower + BM25 serving
    // combiner. Both rankings are |queries| × 20 rows, so the fusion
    // never touches the corpus; scores are Σ 1/(60+rank) summed
    // lexical-then-dense (fixed-order, IEEE-identical), ties to the
    // lower doc_id.
    "q155_hybrid_rrf" -> QueryDef(hybridRrfSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 20)
      val e = Tables(s, dir).embeddings
      val den = graft.operators.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 8), e, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.operators.Retrieval.rrfFuse(
        Seq("lex" -> lex, "dense" -> den), kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Exactness certificate for the pruned path — the WAND/MaxScore
    // upper-bound argument in batch form: a non-candidate doc scores
    // at most Σ idf_t × (the (c+1)-th champion impact of t), so when
    // the k-th candidate's exact score strictly beats that bound the
    // pruned top-k is PROVABLY the full top-k. Per query: candidate
    // count, k-th score, the bound, and the certificate bit
    // (RetrievalSpec proves certified ⇒ pruned == full on a selective
    // corpus; on this zero-selectivity corpus the report honestly says
    // which queries the c=64 budget can and cannot certify).
    "q156_bm25_certificate" -> QueryDef(bm25CertSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      graft.operators.Retrieval.certifiedPrunedReport(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 10,
        c = ChampionC)
        .orderBy(col("query_id"))
    },

    // Incremental index maintenance: three ingestion runs each tokenize
    // and aggregate ONLY their own docs (doc_id mod 3) into a persisted
    // PostingsStore delta; the first two generations are compacted into
    // a term-hash base, the third stays a live delta — the serving read
    // unions both layers. BM25 through the incrementally-built index,
    // with df/avgdl/N re-derived from the store itself, must equal the
    // monolithic rebuild the oracle computes from scratch — the proof
    // that index maintenance never needs to re-tokenize the corpus.
    "q157_incremental_index" -> QueryDef(
      s"""WITH ${bm25Ctes(pruned = false, kTop = 10, selfStats = true)}
         |SELECT query_id, doc_id, score, rank FROM lex
         |ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
      val post = incrementalPost(s, dir)
      val (nd, avgdl) = incStatsCache.computeIfAbsent(
        s.sparkContext.applicationId + ":" + dir,
        _ => graft.operators.Retrieval.storeStats(post))
      graft.operators.Retrieval.bm25TopK(
        post, bm25Queries(s, dir), nd, avgdl, kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // RM3 pseudo-relevance feedback, phase 1: pool the top-10 feedback
    // docs' postings per query and pick the 5 heaviest non-query terms
    // by Σ tf — an INTEGER weight, so the selection is exact in both
    // engines. The feedback pairs are broadcast against the postings
    // (one narrow index probe, never a corpus pass).
    "q158_rm3_expansion" -> QueryDef(rm3ExpansionSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      graft.operators.Retrieval.rm3ExpansionTerms(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl,
        kFb = Rm3FbK, mExp = Rm3ExpM)
        .orderBy(col("query_id"), col("rank"))
    },

    // RM3 phase 2: re-score under the expanded query — original terms
    // at weight 1000 milli, expansion terms at 500 (λ = 0.5). The
    // contribution is qw · (idf · tfPart): one more exact int→double
    // multiply outside the base scorer's pinned shape, folded
    // term-ascending as always.
    "q159_rm3_rescored" -> QueryDef(rm3RescoredSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      graft.operators.Retrieval.rm3Rescored(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 10,
        kFb = Rm3FbK, mExp = Rm3ExpM, lambdaMilli = Rm3LambdaMilli)
        .orderBy(col("query_id"), col("rank"))
    },

    // Exact phrase retrieval over the positional inverted index: the
    // 3-token phrase at positions 2-4 of docs 0-7 probes (doc_id, term,
    // pos) occurrence rows; an anchor counts when it covers every
    // phrase ordinal. Broadcast phrase-term probe, two candidate-sized
    // aggregations, integer-exact throughout (counts and positions).
    "q160_phrase_match" -> QueryDef(phraseMatchSql) { (s, dir) =>
      graft.operators.Retrieval.phraseMatches(
        posPost(s, dir), phraseQueries(s, dir), kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Conjunctive proximity ranking: docs containing EVERY query term,
    // ordered by the minimum cross-term occurrence distance (computed
    // at adjacent entries of the merged occurrence list — one lag
    // window, never the occ² pairwise join) with width-16 co-occurrence
    // windows as the tiebreak. All positions and counts integer-exact.
    "q161_proximity_rank" -> QueryDef(proximityRankSql) { (s, dir) =>
      graft.operators.Retrieval.proximityRank(
        posPost(s, dir), bm25Queries(s, dir), kTop = 10,
        bucketW = ProxBucketW)
        .orderBy(col("query_id"), col("rank"))
    },

    // Retrieval evaluation harness: BM25 top-10 scored against the
    // exact dense top-20 as pseudo-qrels — hits/overlap, milli MRR and
    // quantized-discount nDCG, every metric INTEGER (the transcendental
    // log2 discount is pinned as milli literals at authoring time, the
    // q127 bitLen discipline).
    "q162_retrieval_eval" -> QueryDef(retrievalEvalSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 10)
      val e = Tables(s, dir).embeddings
      val rel = graft.operators.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 8), e, k = EvalRelK)
        .select(col("query_id"), col("neighbor_id").as("doc_id"))
      graft.operators.Retrieval.rankingAgreement(lex, rel, k = 10)
        .orderBy(col("query_id"))
    },

    // TextRank (PageRank over the token co-occurrence graph): one
    // corpus pass derives adjacent-token edge weights, ten synchronous
    // power iterations run on the vocabulary-sized graph — in-flows
    // folded source-ascending, damping entering as integer milli, every
    // double shape pinned against the unrolled-CTE oracle.
    "q163_textrank" -> QueryDef(textRankSql) { (s, dir) =>
      val ranks = graft.operators.GraphRank.pageRank(
        graft.operators.GraphRank.textRankEdges(Tables(s, dir).documents),
        iters = TextRankIters, dampMilli = TextRankDampMilli,
        symmetricEdges = true)
      // top-k FIRST (TakeOrderedAndProject — never a global-window sort
      // of the full vocabulary-sized rank vector through one task), then
      // rank the ≤ TextRankTopK survivors; (r, id) is a total order, so
      // limit-then-rank selects and numbers exactly the same rows
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("r").desc, col("id").asc)
      ranks.orderBy(col("r").desc, col("id").asc).limit(TextRankTopK)
        .withColumn("rank", row_number().over(w))
        .select(col("id").as("term"), col("r"), col("rank"))
        .orderBy(col("rank"))
    },

    // Best-passage (snippet) extraction: the width-12 window with the
    // highest Σ idf over DISTINCT query terms, anchored at query-term
    // occurrences, found through the bucket-banded range join (2×
    // probe-output blowup, bounded by window width — never occ²).
    // Score is an integer idf_milli sum — no double fold contract.
    "q164_best_passage" -> QueryDef(bestPassageSql) { (s, dir) =>
      val (nd, _) = bm25Stats(s, dir)
      graft.operators.Retrieval.bestPassages(
        bm25Post(s, dir), posPost(s, dir), bm25Queries(s, dir), nd,
        winW = PassageW, kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // MMR diversified re-ranking of the dense top-20: five greedy picks
    // per query trading relevance (λ=0.7, integer milli) against max
    // cosine to the already-picked — per-query flatMapGroups in the
    // engine, five unrolled greedy CTE levels in the oracle, the same
    // pinned double shapes on both sides.
    "q165_mmr_diversify" -> QueryDef(mmrSql) { (s, dir) =>
      val e = Tables(s, dir).embeddings
      val cands = graft.operators.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 8), e, k = MmrPoolK)
        .join(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("emb")), Seq("neighbor_id"))
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cosine").as("rel"), col("emb"))
      graft.operators.Diversify.mmrSelect(cands, m = MmrM,
        lambdaMilli = MmrLambdaMilli)
        .orderBy(col("query_id"), col("rank"))
    },

    // Incremental POSITIONAL index maintenance: three ingestion runs
    // each position only their own docs into a persisted
    // PosPostingsStore (q157's base+delta protocol, occurrence-row
    // schema); phrase retrieval served over base ∪ live delta must
    // equal the monolithic rebuild the oracle computes from scratch.
    "q166_incremental_positional" -> QueryDef(phraseMatchSql) { (s, dir) =>
      graft.operators.Retrieval.phraseMatches(
        incrementalPosPost(s, dir), phraseQueries(s, dir), kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Learning-to-rank feature assembly: the union of every signal's
    // candidate pairs, left-joined back onto each signal with typed
    // zero sentinels — lexical (BM25 score+rank), dense (rank),
    // proximity (min distance, co-windows), passage (idf mass, terms).
    // Operators composing into one frame is the point; every join is
    // toplist-sized.
    "q168_ltr_features" -> QueryDef(ltrFeaturesSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 20)
        .select(col("query_id"), col("doc_id"),
          col("score").as("score_lex"), col("rank").as("rank_lex"))
      val e = Tables(s, dir).embeddings
      val den = graft.operators.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 8), e, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank").as("rank_dense"))
      val prox = graft.operators.Retrieval.proximityRank(
        posPost(s, dir), bm25Queries(s, dir), kTop = 10,
        bucketW = ProxBucketW)
        .select(col("query_id"), col("doc_id"), col("min_pair_dist"),
          col("n_cowindows"))
      val pass = graft.operators.Retrieval.bestPassages(
        bm25Post(s, dir), posPost(s, dir), bm25Queries(s, dir), nd,
        winW = PassageW, kTop = 10)
        .select(col("query_id"), col("doc_id"), col("passage_score"),
          col("n_window_terms"))
      // candidate universe = union of the signals' pairs, features =
      // each signal's columns: CHAINED FULL OUTER JOINS produce exactly
      // that in one evaluation of each signal pipeline. Round 19: the
      // previous explicit universe (union of the four pair sets,
      // distinct, then four left joins back) referenced every signal
      // subtree TWICE — the whole BM25/dense/proximity/passage stack
      // ran two times per execution for identical output.
      lex.join(den, Seq("query_id", "doc_id"), "full_outer")
        .join(prox, Seq("query_id", "doc_id"), "full_outer")
        .join(pass, Seq("query_id", "doc_id"), "full_outer")
        .select(col("query_id"), col("doc_id"),
          coalesce(col("rank_lex"), lit(0)).as("rank_lex"),
          coalesce(col("score_lex"), lit(0.0)).as("score_lex"),
          coalesce(col("rank_dense"), lit(0)).as("rank_dense"),
          coalesce(col("min_pair_dist"), lit(0L)).as("min_pair_dist"),
          coalesce(col("n_cowindows"), lit(0L)).as("n_cowindows"),
          coalesce(col("passage_score"), lit(0L)).as("passage_score"),
          coalesce(col("n_window_terms"), lit(0L)).as("n_window_terms"))
        .orderBy(col("query_id"), col("doc_id"))
    },

    // Prefix completion: the autocomplete dictionary — top-5
    // completions per 3-char vocabulary prefix by collection frequency.
    // Vocabulary-sized aggregation; integer-exact.
    "q169_prefix_complete" -> QueryDef(prefixCompleteSql) { (s, dir) =>
      graft.operators.Retrieval.prefixCompletions(
        bm25Post(s, dir), prefixLen = PrefixLen, kTop = 5)
        .orderBy(col("prefix"), col("rank"))
    },

    // VByte index sizing: per-term byte cost of delta-gap + VByte
    // doc-id lists and tf columns — the capacity-planning pass before
    // materializing an index at scale. All-integer CASE thresholds.
    "q170_index_vbyte_size" -> QueryDef(indexVbyteSql) { (s, dir) =>
      graft.operators.Retrieval.indexSizeEstimate(bm25Post(s, dir))
        .orderBy(col("df").desc, col("term").asc)
    },

    // SERP near-dup collapse: keep the best-ranked result per
    // (query, bag-fingerprint) cluster and close the rank gaps — the
    // result-page dedup between ranking and presentation. Toplist-sized.
    "q171_serp_collapse" -> QueryDef(serpCollapseSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 20)
      val fp = Tables(s, dir).documents.select(col("doc_id"),
        TextFunctions.bagFingerprint(col("text")).as("fp"))
      graft.operators.Retrieval.collapseNearDups(lex, fp)
        .orderBy(col("query_id"), col("rank"))
    },

    // SymSpell spelling correction: deletion-variant candidate join
    // (vocabulary expands ≤ len+1 variants per term — never the
    // quadratic distance matrix), exact levenshtein <= 1 verify,
    // suggestions ranked by collection frequency. The probe tokens are
    // deterministic synthetic misspells (2nd char dropped from every
    // vocab term of length >= 4), so the identity fix is always present.
    "q172_spell_correct" -> QueryDef(spellCorrectSql) { (s, dir) =>
      val vocabTerms = bm25Post(s, dir).select(col("term")).distinct()
      val misspelled = vocabTerms
        .filter(length(col("term")) >= 4)
        .select(concat(col("term").substr(lit(1), lit(1)),
          col("term").substr(lit(3), length(col("term"))))
          .as("token"))
        .distinct()
      graft.operators.Retrieval.spellSuggest(
        bm25Post(s, dir), misspelled, kTop = 5)
        .orderBy(col("token"), col("rank"))
    },

    // Blocklist span redaction: every occurrence of any blocklist
    // phrase masked token-for-token and the doc re-rendered — the
    // contamination-rewrite pattern driven by the positional index.
    // Rewrite touches only affected docs; overlaps union as a set.
    "q173_blocklist_redact" -> QueryDef(redactSql) { (s, dir) =>
      graft.operators.Retrieval.redactPhrases(
        Tables(s, dir).documents, posPost(s, dir), phraseQueries(s, dir))
        .orderBy(col("doc_id"))
    },

    // KMV (theta) sketch per-slice distinct estimation: k smallest
    // h60(md5) hashes per language slice of the shingle universe;
    // est = (k-1)*2^60 div theta, exact below k — every value an
    // integer, the estimator's error visible against the exact count.
    "q174_theta_estimate" -> QueryDef(thetaEstimateSql) { (s, dir) =>
      graft.operators.ThetaSketch.kmvEstimate(
        thetaHashes(s, dir), k = ThetaK)
        .orderBy(col("slice"))
    },

    // Theta-sketch slice intersections — what HLL cannot do: pairwise
    // shared-shingle cardinality between language slices from k-hash
    // sketches (theta_ab = min theta, common hashes below it), with the
    // exact intersection and permille error alongside.
    "q175_theta_overlap" -> QueryDef(thetaOverlapSql) { (s, dir) =>
      graft.operators.ThetaSketch.kmvIntersections(
        thetaHashes(s, dir), k = ThetaK)
        .orderBy(col("slice_a"), col("slice_b"))
    },

    // Sketch-ONLY theta intersections — the production path: the
    // pairwise stage's inputs are the k-row per-slice sketches, so it
    // shuffles slice-count² × ≤ k rows at any corpus size (q175 keeps
    // the exact-intersection error harness). Values bit-identical to
    // q175's matching columns by the below-θ∩ ⊆ sketch argument.
    "q178_theta_sketch_only" -> QueryDef(thetaSketchOnlySql) { (s, dir) =>
      graft.operators.ThetaSketch.kmvIntersectionsSketchOnly(
        graft.operators.ThetaSketch.kmvSketch(thetaHashes(s, dir), ThetaK),
        k = ThetaK)
        .orderBy(col("slice_a"), col("slice_b"))
    },

    // Theta-sketch UNION + the mergeability law: the Spark side merges
    // the two k-row sketches and re-ranks (union of sketches); the
    // oracle sketches the per-pair union hash sets from scratch
    // (sketch of union). Hash equality of the two IS the mergeable-
    // summaries law, pinned per pair at every sf the sweep runs.
    "q179_theta_union" -> QueryDef(thetaUnionSql) { (s, dir) =>
      graft.operators.ThetaSketch.kmvUnions(
        graft.operators.ThetaSketch.kmvSketch(thetaHashes(s, dir), ThetaK),
        k = ThetaK)
        .orderBy(col("slice_a"), col("slice_b"))
    },

    // CombSUM/CombMNZ score-normalized fusion — the other classic
    // hybrid combiner next to q155's RRF: per-query min-max
    // normalization of each system's scores, summed in system order,
    // boosted by the integer hit count.
    "q176_combsum_fusion" -> QueryDef(combFuseSql) { (s, dir) =>
      val (nd, avgdl) = bm25Stats(s, dir)
      val lex = graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 20)
      val e = Tables(s, dir).embeddings
      val den = graft.operators.Similarity
        .bruteForceTopK(e.filter(col("vec_id") < 8), e, k = 20)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("cosine").as("score"))
      graft.operators.Retrieval.combFuse(
        Seq("lex" -> lex, "dense" -> den), kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    },

    // Pre-retrieval query-performance prediction: difficulty signals
    // from index statistics alone — term count, mean/min/max milli-idf,
    // total df, and query scope (corpus fraction touched, permille).
    // All integer; scope is one probe-side distinct.
    "q177_query_difficulty" -> QueryDef(queryDifficultySql) { (s, dir) =>
      val (nd, _) = bm25Stats(s, dir)
      graft.operators.Retrieval.queryDifficulty(
        bm25Post(s, dir), bm25Queries(s, dir), nd)
        .orderBy(col("query_id"))
    },

    // Collocation extraction: adjacent-token pairs ranked by the
    // association ratio as an exact integer milli quotient
    // (c_ab·N·1000 div c_a·c_b — PMI's order without PMI's log),
    // products in DECIMAL(38,0)/HUGEINT so no 64-bit ceiling binds.
    "q167_collocations" -> QueryDef(collocationsSql) { (s, dir) =>
      graft.operators.GraphRank.collocations(
        Tables(s, dir).documents, minCount = CollocMinCount,
        kTop = CollocTopK)
        .orderBy(col("rank"))
    },

    // Boolean retrieval — the Lucene clause model (MUST all / SHOULD
    // ≥1 / MUST_NOT none) compiled to one broadcast positive probe +
    // a candidate-bounded anti join; unranked, match counts alongside.
    "q184_boolean_retrieval" -> QueryDef(booleanRetrievalSql) { (s, dir) =>
      graft.operators.Retrieval.booleanRetrieve(
        bm25Post(s, dir), boolQueryFixture(s, dir), minShouldMatch = 1)
        .orderBy(col("query_id"), col("doc_id"))
    },

    // Faceted counts over the boolean candidate sets — the search-UI
    // sidebar aggregation: per (query, facet, value) doc counts off
    // ONE melted metadata join, candidates read once for both facets.
    "q185_facet_counts" -> QueryDef(facetCountsSql) { (s, dir) =>
      graft.operators.Retrieval.facetCounts(
        graft.operators.Retrieval.booleanRetrieve(
          bm25Post(s, dir), boolQueryFixture(s, dir), minShouldMatch = 1),
        Tables(s, dir).documents, facets = Seq("lang", "source"))
        .orderBy(col("query_id"), col("facet"), col("value"))
    },

    // Grouped top-k WITHOUT the window sort: the bounded-heap
    // mergeable aggregate — O(k) state per group combined map-side, k
    // rows per group on the exchange, exact by the mergeable-summaries
    // argument. The oracle IS the window form it replaces.
    "q186_topk_agg" -> QueryDef(topkAggSql) { (s, dir) =>
      Tables(s, dir).documents
        .groupBy(col("source"))
        .agg(graft.functions.TopKAgg.topK(
          col("n_chars"), col("doc_id"), TopKAggK).as("tk"))
        .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
        .select(col("source"), (col("pos") + 1).cast("int").as("rank"),
          col("e.id").as("doc_id"), col("e.score").as("n_chars"))
        .orderBy(col("source"), col("rank"))
    },

    // Priority sampling (Duffield–Lund–Thorup): k docs per source by
    // deterministic w/u priority, with the unbiased subset-sum
    // estimator est = max(w, τ) alongside — rides the heap aggregate,
    // exact-regime groups (≤ k items) report their weights verbatim.
    "q187_priority_sample" -> QueryDef(prioritySampleSql) { (s, dir) =>
      graft.operators.PrioritySample.sample(
        Tables(s, dir).documents.select(col("source"), col("doc_id"),
          col("n_chars")),
        k = PrioritySampleK, grpCol = "source", idCol = "doc_id",
        wCol = "n_chars")
        .orderBy(col("grp"), col("rank"))
    },

    // Filtered retrieval — the "query + filters" serving shape: the
    // boolean clause set (q184) produces the candidate pairs, BM25
    // ranks WITHIN them (global corpus stats — filters narrow results,
    // not idf). The restriction rides bm25TopK's broadcast-semi
    // candidates hook, so the filter never reshuffles the postings.
    "q189_filtered_bm25" -> QueryDef(filteredBm25Sql) { (s, dir) =>
      val cand = graft.operators.Retrieval.booleanRetrieve(
        bm25Post(s, dir), boolQueryFixture(s, dir), minShouldMatch = 1)
        .select(col("query_id"), col("doc_id"))
      val (nd, avgdl) = bm25Stats(s, dir)
      graft.operators.Retrieval.bm25TopK(
        bm25Post(s, dir), bm25Queries(s, dir), nd, avgdl, kTop = 10,
        candidates = Some(cand))
        .orderBy(col("query_id"), col("rank"))
    },

    // BM25F — field-weighted ranking (title = first 8 tokens counts
    // double, body once), per-field length normalization, ONE
    // saturation over the combined wtf; df over either field. The
    // multi-field sibling of q153 on the same probe machinery.
    "q191_bm25f" -> QueryDef(bm25fSql) { (s, dir) =>
      val fpost = bm25fPost(s, dir)
      val (nd, avgT, avgB) = bm25fStatsMemo(s, dir)
      graft.operators.Retrieval.bm25fTopK(
        fpost, bm25Queries(s, dir), nd, avgT, avgB, kTop = 10,
        wT = Bm25fTitleW, wB = 1)
        .orderBy(col("query_id"), col("rank"))
    },

    // Snippets: the q164 best windows materialized as text — winW
    // tokens sliced from each served doc, raw and with query terms
    // bracket-highlighted; toplist + query term sets broadcast into
    // one corpus pass, slice/highlight row-local.
    "q190_snippets" -> QueryDef(snippetsSql) { (s, dir) =>
      val (nd, _) = bm25Stats(s, dir)
      val pass = graft.operators.Retrieval.bestPassages(
        bm25Post(s, dir), posPost(s, dir), bm25Queries(s, dir), nd,
        winW = PassageW, kTop = 10)
      graft.operators.Retrieval.snippets(
        pass, Tables(s, dir).documents, bm25Queries(s, dir),
        winW = PassageW)
        .orderBy(col("query_id"), col("rank"))
    },

    // Index time travel: BM25 serving over the store AS OF batch1 of
    // a three-batch ingestion — the as-of snapshot (batches 0–1, i.e.
    // doc_id % 3 < 2) scores exactly like a monolithic index built
    // from only those docs, stats re-derived from the snapshot.
    "q188_asof_index" -> QueryDef(asofIndexSql) { (s, dir) =>
      val post = asofPost(s, dir)
      val (nd, avgdl) = asofStatsCache.computeIfAbsent(
        s.sparkContext.applicationId + ":" + dir,
        _ => graft.operators.Retrieval.storeStats(post))
      graft.operators.Retrieval.bm25TopK(
        post, bm25Queries(s, dir), nd, avgdl, kTop = 10)
        .orderBy(col("query_id"), col("rank"))
    }
  )

  /** As-of snapshot stats memoized per (session, sf) — the
    * [[bm25Stats]] convention (round 19). */
  private val asofStatsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Double)]()

  /** Incremental-store stats memoized per (session, sf) — same. */
  private val incStatsCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Long, Double)]()

  private val asofPostCache = new java.util.concurrent.ConcurrentHashMap[
    String, org.apache.spark.sql.DataFrame]()

  /** Build-once-per-(session, sf) as-of fixture: batch b holds docs
    * with doc_id ≡ b (mod 3), three appends, NO compaction (as-of is
    * delta-granular; the compaction fold-point contract is spec'd in
    * FingerprintStoreSpec). Returns the batch1 snapshot, detached and
    * MEMOIZED alongside the store — re-executions of q188 reuse the
    * one set of blocks instead of stacking a new copy per call. */
  private def asofPost(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    asofPostCache.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => {
        val d = java.nio.file.Files
          .createTempDirectory("graft-asof").toString
        val docs = Tables(s, dir).documents
        Seq(0, 1, 2).foreach { b =>
          graft.sources.PostingsStore.appendDelta(
            graft.operators.Retrieval.postings(
              docs.filter(col("doc_id") % 3 === b)), d, s"batch$b")
        }
        Materialize.detached(
          graft.sources.PostingsStore.loadAsOf(s, d, "batch1"))
      })

  // BM25F knobs — title length and integer title weight
  private def Bm25fTitleLen: Int = 8
  private def Bm25fTitleW: Int = 2

  private val bm25fPostPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val bm25fStatsCache =
    new java.util.concurrent.ConcurrentHashMap[
      String, (Long, Double, Double)]()

  /** BM25F corpus stats memoized per (session, sf) — the [[bm25Stats]]
    * convention (round 19: q191 was re-collecting them every run). */
  private def bm25fStatsMemo(s: SparkSession, dir: String)
      : (Long, Double, Double) =
    bm25fStatsCache.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => graft.operators.Retrieval.bm25fStats(
        Tables(s, dir).documents, bm25fPost(s, dir)))

  /** Field-tagged postings, PARQUET-BACKED per (session, sf) — the
    * round-19 [[bm25Post]] change applied to the BM25F index. */
  private def bm25fPost(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val path = bm25fPostPaths.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => {
        val p = java.nio.file.Files
          .createTempDirectory("graft-bm25fpost").toString
        graft.operators.Retrieval.bm25fPostings(
          Tables(s, dir).documents, titleLen = Bm25fTitleLen)
          .write.mode("overwrite").parquet(p)
        p
      })
    s.read.parquet(path)
  }

  /** q191 oracle: the whole BM25F derivation — field-tagged postings
    * pivoted to (tf_t, tf_b), field lengths, either-field df, the
    * pinned per-field normalization + single-saturation double shape,
    * term-ascending fold, (score desc, doc asc) rank. */
  private def bm25fSql: String = {
    def tfnSql(tf: String, fl: String, tt: String): String =
      s"""(CAST($tf AS DOUBLE) /
         |       (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
         |        (CAST($fl AS DOUBLE) /
         |         ($tt / CAST(fstats.nd AS DOUBLE)))))""".stripMargin
    s"""WITH fdts AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |fpost AS (SELECT doc_id, term,
       |    CAST(sum(CASE WHEN fld = 't' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tf_t,
       |    CAST(sum(CASE WHEN fld = 'b' THEN 1 ELSE 0 END) AS BIGINT)
       |      AS tf_b
       |  FROM (SELECT doc_id, 't' AS fld,
       |          unnest(ts[1:$Bm25fTitleLen]) AS term FROM fdts
       |        UNION ALL
       |        SELECT doc_id, 'b' AS fld,
       |          unnest(ts[${Bm25fTitleLen + 1}:len(ts)]) AS term
       |        FROM fdts)
       |  GROUP BY doc_id, term),
       |ffl AS (SELECT doc_id, CAST(sum(tf_t) AS BIGINT) AS fl_t,
       |               CAST(sum(tf_b) AS BIGINT) AS fl_b
       |        FROM fpost GROUP BY doc_id),
       |fstats AS (SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM documents) AS nd,
       |    (SELECT CAST(sum(tf_t) AS DOUBLE) FROM fpost) AS tt_t,
       |    (SELECT CAST(sum(tf_b) AS DOUBLE) FROM fpost) AS tt_b),
       |fq AS (SELECT DISTINCT query_id, term FROM
       |        (SELECT doc_id AS query_id, unnest((ts)[1:8]) AS term
       |         FROM fdts WHERE doc_id < 8) qq),
       |fdfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM fpost
       |         WHERE term IN (SELECT term FROM fq) GROUP BY term),
       |fw AS (SELECT fq.query_id, fq.term,
       |         (fstats.nd * 1000) // fdfq.df AS idf_milli
       |       FROM fq JOIN fdfq USING (term) CROSS JOIN fstats),
       |fwtf AS (SELECT fw.query_id, p.doc_id, fw.term, fw.idf_milli,
       |    (CAST($Bm25fTitleW AS DOUBLE) *
       |       ${tfnSql("p.tf_t", "f.fl_t", "fstats.tt_t")}
       |     + CAST(1 AS DOUBLE) *
       |       ${tfnSql("p.tf_b", "f.fl_b", "fstats.tt_b")}) AS wtf
       |  FROM fpost p JOIN ffl f USING (doc_id)
       |  JOIN fw ON p.term = fw.term
       |  CROSS JOIN fstats WHERE p.doc_id <> fw.query_id),
       |fsc AS (SELECT query_id, doc_id,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list(CAST(idf_milli AS DOUBLE) *
       |             (wtf / (CAST(1.2 AS DOUBLE) + wtf))
       |        ORDER BY term)), (a, b) -> a + b) AS score
       |  FROM fwtf GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, score, rank FROM (
       |  SELECT query_id, doc_id, score,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY score DESC, doc_id ASC) AS INT) AS rank
       |  FROM fsc) WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q190 oracle: the q164 passage chain plus row-local snippet
    * reconstruction — slice winW tokens at window_start, highlight
    * terms in the query's (already-distinct) term set. Note the
    * snippet queries here are the WHOLE passage-query texts' term
    * sets (`q` — the bm25 CTE), exactly what the engine passes. */
  private def snippetsSql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 10)},
       |$posPostSql,
       |$passCtes,
       |dts AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |qts AS (SELECT query_id, list(term ORDER BY term) AS qterms
       |        FROM q GROUP BY query_id)
       |SELECT p.query_id, p.doc_id, p.rank, p.window_start,
       |  array_to_string(
       |    dts.ts[p.window_start : p.window_start + ${PassageW - 1}],
       |    ' ') AS snippet,
       |  array_to_string(list_transform(
       |    dts.ts[p.window_start : p.window_start + ${PassageW - 1}],
       |    t -> CASE WHEN list_contains(qts.qterms, t)
       |              THEN '[' || t || ']' ELSE t END), ' ') AS highlighted
       |FROM pass p JOIN dts USING (doc_id) JOIN qts USING (query_id)
       |ORDER BY query_id, rank""".stripMargin

  /** q189 oracle: the boolean CTE chain (ending in `res`) prepended to
    * the standard BM25 derivation, with the scorer restricted to the
    * boolean candidate pairs — query + filters, ranked. */
  private def filteredBm25Sql: String =
    s"""WITH $booleanCtes,
       |${bm25Ctes(pruned = false, kTop = 10,
         extraCandJoin =
           "JOIN res ON res.query_id = w.query_id AND res.doc_id = p.doc_id")}
       |SELECT query_id, doc_id, score, rank FROM lex
       |ORDER BY query_id, rank""".stripMargin

  /** q188 oracle: the full BM25 derivation over ONLY the snapshot's
    * docs (doc_id % 3 < 2), stats self-derived from that subset —
    * time travel == monolithic rebuild of the prefix. Queries stay
    * the full fixture set (a query whose own doc is outside the
    * snapshot simply has no self row to exclude). */
  private def asofIndexSql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 10, selfStats = true,
         docsWhere = " WHERE doc_id % 3 < 2")}
       |SELECT query_id, doc_id, score, rank FROM lex
       |ORDER BY query_id, rank""".stripMargin

  // shared knobs (defs — interpolated eagerly while `entries` builds)
  private def TopKAggK: Int = 5
  private def PrioritySampleK: Int = 16
  private def P40: String = "1099511627776" // 2^40

  private def topkAggSql: String =
    s"""SELECT source, rank, doc_id, n_chars FROM (
       |  SELECT source, doc_id, n_chars,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY source
       |           ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
       |  FROM documents) WHERE rank <= $TopKAggK
       |ORDER BY source, rank""".stripMargin

  /** q187 oracle: the whole DLT derivation re-done in DuckDB — h60 of
    * "ps:"+id, the 40-bit quantized uniform, the fixed-point priority,
    * the window rank the heap aggregate replaces, τ at rank k+1, and
    * the max(w, τ) estimator in milli units. */
  private def prioritySampleSql: String =
    s"""WITH it AS (SELECT source AS grp, doc_id AS id,
       |              CAST(n_chars AS BIGINT) AS w FROM documents),
       |h AS (SELECT grp, id, w,
       |        CAST(concat('0x', substr(
       |          md5(concat('ps:', CAST(id AS VARCHAR))), 1, 15))
       |          AS BIGINT) AS h60
       |      FROM it),
       |p AS (SELECT grp, id, w,
       |        (w * $P40) // ((h60 // 1048576) + 1) AS pr FROM h),
       |r AS (SELECT grp, id, w, pr,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY grp
       |          ORDER BY pr DESC, id ASC) AS INT) AS rank FROM p),
       |t AS (SELECT grp, pr AS tau FROM r
       |      WHERE rank = ${PrioritySampleK + 1})
       |SELECT r.grp, r.rank, r.id, r.w, r.pr, t.tau,
       |       CASE WHEN t.tau IS NULL THEN r.w
       |            ELSE greatest(r.w, t.tau)
       |       END AS est
       |FROM r LEFT JOIN t USING (grp) WHERE r.rank <= $PrioritySampleK
       |ORDER BY grp, rank""".stripMargin

  /** Boolean-query fixture: docs 0–7 as clause queries — MUST = the
    * first two tokens, SHOULD = tokens 3–6, MUST_NOT = token 7 (1-based
    * positions; roles deduplicate inside the operator, and the oracle
    * slices identically). */
  private def boolQueryFixture(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ts = TextFunctions.tokens(col("text"))
    Tables(s, dir).documents.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        slice(ts, 1, 2).as("must"),
        slice(ts, 3, 4).as("should"),
        slice(ts, 7, 1).as("must_not"))
  }

  /** Shared q184/q185 CTE chain ending in `res` = the boolean result
    * (query_id, doc_id, must_matched, should_matched). Mirrors
    * [[graft.operators.Retrieval.booleanRetrieve]]: role sets
    * deduplicated, positive roles counted from one probe, MUST_NOT as
    * an anti join ("no purely-negative queries" — a doc must match a
    * positive term to appear). */
  private def booleanCtes: String =
    s"""btoks AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |bpost AS (SELECT DISTINCT doc_id, unnest(ts) AS term FROM btoks),
       |bq AS (SELECT doc_id AS query_id,
       |         list_distinct(ts[1:2]) AS must,
       |         list_distinct(ts[3:6]) AS should,
       |         list_distinct(ts[7:7]) AS nots
       |       FROM btoks WHERE doc_id < 8),
       |m AS (SELECT query_id, unnest(must) AS term FROM bq),
       |sh AS (SELECT query_id, unnest(should) AS term FROM bq),
       |nx AS (SELECT query_id, unnest(nots) AS term FROM bq),
       |nm AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_must
       |       FROM m GROUP BY query_id),
       |ns AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_should
       |       FROM sh GROUP BY query_id),
       |pos AS (SELECT query_id, term, 'm' AS role FROM m
       |        UNION ALL SELECT query_id, term, 's' AS role FROM sh),
       |mt AS (SELECT pos.query_id, p.doc_id,
       |         CAST(sum(CASE WHEN pos.role = 'm' THEN 1 ELSE 0 END)
       |           AS BIGINT) AS must_matched,
       |         CAST(sum(CASE WHEN pos.role = 's' THEN 1 ELSE 0 END)
       |           AS BIGINT) AS should_matched
       |       FROM pos JOIN bpost p USING (term)
       |       GROUP BY pos.query_id, p.doc_id),
       |cand AS (SELECT mt.query_id, mt.doc_id,
       |           mt.must_matched, mt.should_matched
       |         FROM mt LEFT JOIN nm USING (query_id)
       |                 LEFT JOIN ns USING (query_id)
       |         WHERE mt.must_matched = coalesce(nm.n_must, 0)
       |           AND (coalesce(ns.n_should, 0) = 0
       |                OR mt.should_matched >= 1)),
       |np AS (SELECT DISTINCT nx.query_id, p.doc_id
       |       FROM nx JOIN bpost p USING (term)),
       |res AS (SELECT c.query_id, c.doc_id,
       |          c.must_matched, c.should_matched
       |        FROM cand c LEFT JOIN np
       |          ON np.query_id = c.query_id AND np.doc_id = c.doc_id
       |        WHERE np.query_id IS NULL)""".stripMargin

  private def booleanRetrievalSql: String =
    s"""WITH $booleanCtes
       |SELECT query_id, doc_id, must_matched, should_matched FROM res
       |ORDER BY query_id, doc_id""".stripMargin

  private def facetCountsSql: String =
    s"""WITH $booleanCtes,
       |fm AS (SELECT doc_id, 'lang' AS facet, lang AS value
       |       FROM documents
       |       UNION ALL
       |       SELECT doc_id, 'source' AS facet, source AS value
       |       FROM documents)
       |SELECT r.query_id, fm.facet, fm.value,
       |       CAST(count(*) AS BIGINT) AS cnt
       |FROM res r JOIN fm USING (doc_id)
       |GROUP BY r.query_id, fm.facet, fm.value
       |ORDER BY query_id, facet, value""".stripMargin

  // a def, not a val: bm25Sql interpolates this EAGERLY while the
  // `entries` map (declared above) is being constructed, before this
  // object's trailing vals initialize — a val here would read as 0
  private def ChampionC: Int = graft.operators.Retrieval.DefaultChampionC

  private val bm25PostPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Postings built once per (session, sf) and PARQUET-BACKED — q153/
    * q154 share the index the way a serving system would (the
    * sigStore/compStore discipline: an index is built at ingest and
    * SERVED, never re-derived per query). Round 19: was
    * `.persist(MEMORY_AND_DISK)`, which the bench's between-query
    * `clearCache()` silently dropped — every retrieval query then
    * re-ran the corpus-pass postings build, and plans that reference
    * the postings subtree k times (q159 5×, q168 3×) re-ran it k
    * times. A parquet read survives cache clears and prunes columns. */
  private def bm25Post(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val path = bm25PostPaths.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => {
        val p = java.nio.file.Files
          .createTempDirectory("graft-bm25post").toString
        graft.operators.Retrieval.postings(Tables(s, dir).documents)
          .write.mode("overwrite").parquet(p)
        p
      })
    s.read.parquet(path)
  }

  private val postingsStoreDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once-per-(session, sf) incremental index fixture: batch b
    * holds docs with doc_id ≡ b (mod 3); batches 0–1 are appended and
    * COMPACTED into the base generation, batch 2 is appended after and
    * stays a live delta. Returns the loaded (base ∪ delta) postings,
    * persisted — q157's serving shape. The temp dir is per
    * (applicationId, sf) for the same isolation reasons as the IVF
    * fixture (ExtensionQueries.ivfFixturePath). */
  private def incrementalPost(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val storeDir = postingsStoreDirs.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => {
        val d = java.nio.file.Files
          .createTempDirectory("graft-postings").toString
        val docs = Tables(s, dir).documents
        Seq(0, 1).foreach { b =>
          graft.sources.PostingsStore.appendDelta(
            graft.operators.Retrieval.postings(
              docs.filter(col("doc_id") % 3 === b)), d, s"batch$b")
        }
        graft.sources.PostingsStore.compact(s, d)
        graft.sources.PostingsStore.appendDelta(
          graft.operators.Retrieval.postings(
            docs.filter(col("doc_id") % 3 === 2)), d, "batch2")
        d
      })
    graft.sources.PostingsStore.load(s, storeDir)
  }

  private val bm25StatsCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Double)]()

  private def bm25Stats(s: SparkSession, dir: String): (Long, Double) =
    bm25StatsCache.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => graft.operators.Retrieval.corpusStats(
        Tables(s, dir).documents, bm25Post(s, dir)))

  /** Query set: the first 8 whitespace tokens of docs 0–7 — SHORT
    * keyword queries, the shape champion-list pruning is built for
    * (scoring whole documents as queries makes term-coverage, not
    * per-term impact, decide the ranking). */
  private def bm25Queries(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables(s, dir).documents.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 1, 8), " ")
          .as("text"))

  /** The shared q153/q154 oracle: full BM25 re-derivation in DuckDB —
    * postings, df, the integer idf proxy, the pinned double weight
    * shape, and the term-ascending `list_reduce` left fold (explicitly
    * seeded, so the association is the engine's by construction). */
  private def bm25Sql(pruned: Boolean): String =
    s"""WITH ${bm25Ctes(pruned, kTop = 10)}
       |SELECT query_id, doc_id, score, rank FROM lex
       |ORDER BY query_id, rank""".stripMargin

  /** The BM25 derivation as a reusable WITH-body ending in
    * `lex AS (query_id, doc_id, score, rank ≤ kTop)` — q153/q154 select
    * from it directly; q155 embeds it beside the dense-ranking CTEs. */
  // the tfPart expression — ONE source-text shape reused by the scorer,
  // the champion ordering and the q156 upper bound, mirroring
  // Retrieval.tfPart
  private def tfPartSql(tf: String, dl: String): String =
    s"""(CAST($tf AS DOUBLE) * CAST(2.2 AS DOUBLE))
       |                / (CAST($tf AS DOUBLE) + CAST(1.2 AS DOUBLE) *
       |                   (CAST(0.25 AS DOUBLE) + CAST(0.75 AS DOUBLE) *
       |                    (CAST($dl AS DOUBLE) /
       |                     (stats.tt / CAST(stats.nd AS DOUBLE)))))""".stripMargin

  private def bm25Ctes(pruned: Boolean, kTop: Int,
      selfStats: Boolean = false, docsWhere: String = "",
      extraCandJoin: String = ""): String = {
    // pruned: champion lists -> candidate (query_id, doc_id) pairs;
    // scoring always runs on the FULL postings (exact second phase)
    val candCte = if (pruned)
      s"""sp AS (SELECT doc_id, term FROM (
         |  SELECT post.doc_id, term,
         |         ROW_NUMBER() OVER (PARTITION BY term
         |           ORDER BY ${tfPartSql("tf", "dl.dl")} DESC,
         |                    post.doc_id ASC) AS rk
         |  FROM post JOIN dl ON dl.doc_id = post.doc_id CROSS JOIN stats)
         |  WHERE rk <= $ChampionC),
         |cand AS (SELECT DISTINCT q.query_id, sp.doc_id
         |         FROM q JOIN sp ON sp.term = q.term),
         |""".stripMargin
    else ""
    val candJoin = if (pruned)
      "JOIN cand ON cand.query_id = w.query_id AND cand.doc_id = p.doc_id "
    else ""
    s"""toks AS (SELECT doc_id, unnest($ToksSql) AS term
       |         FROM documents$docsWhere),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks GROUP BY doc_id, term),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl
       |       FROM post GROUP BY doc_id),
       |stats AS (SELECT ${if (selfStats)
        "(SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM post)"
      else "(SELECT CAST(count(*) AS BIGINT) FROM documents)"} AS nd,
       |                 (SELECT CAST(sum(tf) AS DOUBLE) FROM post) AS tt),
       |q AS (SELECT DISTINCT query_id, term FROM
       |       (SELECT doc_id AS query_id, unnest(($ToksSql)[1:8]) AS term
       |        FROM documents WHERE doc_id < 8) qq),
       |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post
       |        WHERE term IN (SELECT term FROM q) GROUP BY term),
       |w AS (SELECT q.query_id, q.term, (stats.nd * 1000) // dfq.df AS idf_milli
       |      FROM q JOIN dfq USING (term) CROSS JOIN stats),
       |$candCte
       |sc AS (SELECT w.query_id, p.doc_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list(CAST(w.idf_milli AS DOUBLE) *
       |                (${tfPartSql("p.tf", "dl.dl")})
       |             ORDER BY w.term)),
       |           (a, b) -> a + b) AS score
       |       FROM post p
       |       JOIN w ON p.term = w.term
       |       JOIN dl ON dl.doc_id = p.doc_id
       |       $candJoin$extraCandJoin
       |       CROSS JOIN stats
       |       WHERE p.doc_id <> w.query_id
       |       GROUP BY w.query_id, p.doc_id),
       |lex AS (SELECT query_id, doc_id, score, rank FROM
       |        (SELECT query_id, doc_id, score,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY score DESC, doc_id ASC) AS INT) AS rank
       |         FROM sc) WHERE rank <= $kTop)""".stripMargin
  }

  // RM3 knobs, shared by the q158/q159 entries and their oracle SQL
  // (defs — see ChampionC — because the SQL interpolates them eagerly)
  private def Rm3FbK: Int = 10
  private def Rm3ExpM: Int = 5
  private def Rm3LambdaMilli: Long = 500L

  /** The RM3 expansion-term CTEs: the base BM25 CTEs (lex = top-kFb
    * feedback docs), feedback pooling (Σ tf — integer-exact), original
    * query terms excluded, top-m by (wt desc, term asc) as `exp`. */
  private def rm3Ctes: String =
    s"""${bm25Ctes(pruned = false, kTop = Rm3FbK)},
       |pooled AS (SELECT lex.query_id, p.term,
       |             CAST(sum(p.tf) AS BIGINT) AS wt
       |           FROM post p JOIN lex ON p.doc_id = lex.doc_id
       |           GROUP BY lex.query_id, p.term),
       |poolx AS (SELECT pooled.query_id, pooled.term, pooled.wt
       |          FROM pooled LEFT JOIN q
       |            ON q.query_id = pooled.query_id AND q.term = pooled.term
       |          WHERE q.term IS NULL),
       |exp AS (SELECT query_id, term, wt, rank FROM (
       |  SELECT query_id, term, wt,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY wt DESC, term ASC) AS INT) AS rank
       |  FROM poolx) WHERE rank <= $Rm3ExpM)""".stripMargin

  private def rm3ExpansionSql: String =
    s"""WITH $rm3Ctes
       |SELECT query_id, term, wt, rank FROM exp
       |ORDER BY query_id, rank""".stripMargin

  /** q159 oracle: the expanded query (originals at 1000 milli,
    * expansion terms at $Rm3LambdaMilli), re-weighted and re-scored
    * with contribution qw · (idf · tfPart) — outer factor one exact
    * int→double multiply on top of the base scorer's shape. */
  private def rm3RescoredSql: String =
    s"""WITH $rm3Ctes,
       |eq AS (SELECT query_id, term, CAST(1000 AS BIGINT) AS qw FROM q
       |       UNION ALL
       |       SELECT query_id, term, CAST($Rm3LambdaMilli AS BIGINT) AS qw
       |       FROM exp),
       |dfe AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post
       |        WHERE term IN (SELECT term FROM eq) GROUP BY term),
       |we AS (SELECT eq.query_id, eq.term, eq.qw,
       |         (stats.nd * 1000) // dfe.df AS idf_milli
       |       FROM eq JOIN dfe USING (term) CROSS JOIN stats),
       |sce AS (SELECT we.query_id, p.doc_id,
       |         list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |           list(CAST(we.qw AS DOUBLE) *
       |                (CAST(we.idf_milli AS DOUBLE) *
       |                 (${tfPartSql("p.tf", "dl.dl")}))
       |             ORDER BY we.term)),
       |           (a, b) -> a + b) AS score
       |       FROM post p
       |       JOIN we ON p.term = we.term
       |       JOIN dl ON dl.doc_id = p.doc_id
       |       CROSS JOIN stats
       |       WHERE p.doc_id <> we.query_id
       |       GROUP BY we.query_id, p.doc_id)
       |SELECT query_id, doc_id, score, rank FROM
       |  (SELECT query_id, doc_id, score,
       |     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |       ORDER BY score DESC, doc_id ASC) AS INT) AS rank
       |   FROM sce) WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  /** q156 oracle: the pruned BM25 CTEs plus the certificate math —
    * per-term (c+1)-th impact from the SAME window ordering, the
    * upper bound folded term-ascending with the scorer's association,
    * candidate counts and the k-th exact score from `sc` re-ranked
    * without a cutoff. */
  private def bm25CertSql: String =
    s"""WITH ${bm25Ctes(pruned = true, kTop = 10)},
       |ubt AS (SELECT term, imp AS ub FROM (
       |  SELECT post.term, ${tfPartSql("post.tf", "dl.dl")} AS imp,
       |         ROW_NUMBER() OVER (PARTITION BY post.term
       |           ORDER BY ${tfPartSql("post.tf", "dl.dl")} DESC,
       |                    post.doc_id ASC) AS rk
       |  FROM post JOIN dl ON dl.doc_id = post.doc_id CROSS JOIN stats)
       |  WHERE rk = $ChampionC + 1),
       |ubq AS (SELECT w.query_id,
       |          list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |            list(CAST(w.idf_milli AS DOUBLE) *
       |                 coalesce(ubt.ub, CAST(0.0 AS DOUBLE))
       |              ORDER BY w.term)),
       |            (a, b) -> a + b) AS ub_remaining
       |        FROM w LEFT JOIN ubt ON ubt.term = w.term
       |        GROUP BY w.query_id),
       |nc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_cand
       |       FROM sc GROUP BY 1),
       |scr AS (SELECT query_id, score,
       |          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY score DESC, doc_id ASC) AS INT) AS rank
       |        FROM sc),
       |kth AS (SELECT scr.query_id, nc.n_cand, scr.score AS kth_score
       |        FROM scr JOIN nc USING (query_id)
       |        WHERE scr.rank = least(10, nc.n_cand))
       |SELECT qq.query_id,
       |  coalesce(kth.n_cand, CAST(0 AS BIGINT)) AS n_cand,
       |  kth.kth_score,
       |  coalesce(ubq.ub_remaining, CAST(0.0 AS DOUBLE)) AS ub_remaining,
       |  (coalesce(ubq.ub_remaining, CAST(0.0 AS DOUBLE)) = CAST(0.0 AS DOUBLE))
       |    OR (coalesce(kth.n_cand, 0) >= 10
       |        AND kth.kth_score > ubq.ub_remaining) AS certified
       |FROM (SELECT DISTINCT query_id FROM q) qq
       |LEFT JOIN kth ON kth.query_id = qq.query_id
       |LEFT JOIN ubq ON ubq.query_id = qq.query_id
       |ORDER BY qq.query_id""".stripMargin

  /** q155 oracle: the BM25 CTEs (kTop=20) beside an independent dense
    * cosine top-20 (the q31 expression shapes), full-outer-joined per
    * (query, doc) and fused with CAST(1 AS DOUBLE)/CAST(60+rank AS
    * DOUBLE) addends summed lexical-then-dense — the exact arithmetic
    * [[graft.operators.Retrieval.rrfFuse]] pins. */
  private def dotSqlD(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
  private def cosineSqlD(a: String, b: String): String =
    s"(${dotSqlD(a, b)} / (sqrt(${dotSqlD(a, a)}) * sqrt(${dotSqlD(b, b)})))"

  /** The exact dense-cosine ranking as reusable CTEs ending in
    * `den AS (query_id, doc_id, rank ≤ kTop)` — q155's fusion input and
    * q162's pseudo-qrels share the one derivation. */
  private def denseCtes(kTop: Int): String =
    s"""dq AS (SELECT vec_id AS query_id, embedding AS qv
       |       FROM embeddings WHERE vec_id < 8),
       |dc AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings),
       |dsc AS (SELECT query_id, doc_id, ${cosineSqlD("qv", "cv")} AS cosine
       |        FROM dc JOIN dq ON query_id <> doc_id),
       |den AS (SELECT query_id, doc_id, rank FROM
       |        (SELECT query_id, doc_id,
       |           CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY cosine DESC, doc_id ASC) AS INT) AS rank
       |         FROM dsc) WHERE rank <= $kTop)""".stripMargin

  private def hybridRrfSql: String = {
    s"""WITH ${bm25Ctes(pruned = false, kTop = 20)},
       |${denseCtes(20)},
       |fused AS (SELECT
       |    coalesce(l.query_id, d.query_id) AS query_id,
       |    coalesce(l.doc_id, d.doc_id) AS doc_id,
       |    l.rank AS rank_lex, d.rank AS rank_dense,
       |    coalesce(CAST(1 AS DOUBLE) / CAST(60 + l.rank AS DOUBLE), CAST(0 AS DOUBLE))
       |      + coalesce(CAST(1 AS DOUBLE) / CAST(60 + d.rank AS DOUBLE), CAST(0 AS DOUBLE))
       |      AS rrf_score
       |  FROM lex l FULL JOIN den d
       |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id)
       |SELECT query_id, doc_id, rank_lex, rank_dense, rrf_score, rank
       |FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
       |      FROM fused)
       |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin
  }

  // ---- positional retrieval (q160/q161), eval (q162), TextRank (q163)

  // knob defs (not vals — the oracle SQL builders interpolate them
  // during the eager `entries` construction; see the ChampionC note)
  private def ProxBucketW: Int = 16
  private def EvalRelK: Int = 20
  private def TextRankIters: Int = 10
  private def TextRankDampMilli: Long = 850L
  private def TextRankTopK: Int = 25
  private def PassageW: Int = 12
  private def MmrPoolK: Int = 20
  private def MmrM: Int = 5
  private def MmrLambdaMilli: Long = 700L
  private def CollocMinCount: Long = 5L
  private def CollocTopK: Int = 25
  private def PrefixLen: Int = 3

  /** q168 oracle: the bm25, dense, positional, proximity and passage
    * CTE bodies side by side (their names are disjoint by
    * construction; `q`/`w`/`pp` are shared deliberately — one
    * derivation of each signal), then the candidate union left-joined
    * onto every signal with the engine's zero sentinels. */
  private def ltrFeaturesSql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 20)},
       |${denseCtes(20)},
       |$posPostSql,
       |$proxCtes,
       |$passCtes,
       |univ AS (SELECT query_id, doc_id FROM lex
       |         UNION SELECT query_id, doc_id FROM den
       |         UNION SELECT query_id, doc_id FROM prox
       |         UNION SELECT query_id, doc_id FROM pass)
       |SELECT u.query_id, u.doc_id,
       |       CAST(coalesce(l.rank, 0) AS INT) AS rank_lex,
       |       coalesce(l.score, CAST(0 AS DOUBLE)) AS score_lex,
       |       CAST(coalesce(d.rank, 0) AS INT) AS rank_dense,
       |       CAST(coalesce(x.min_pair_dist, 0) AS BIGINT)
       |         AS min_pair_dist,
       |       CAST(coalesce(x.n_cowindows, 0) AS BIGINT) AS n_cowindows,
       |       CAST(coalesce(s.passage_score, 0) AS BIGINT)
       |         AS passage_score,
       |       CAST(coalesce(s.n_window_terms, 0) AS BIGINT)
       |         AS n_window_terms
       |FROM univ u
       |LEFT JOIN lex l ON l.query_id = u.query_id AND l.doc_id = u.doc_id
       |LEFT JOIN den d ON d.query_id = u.query_id AND d.doc_id = u.doc_id
       |LEFT JOIN prox x ON x.query_id = u.query_id AND x.doc_id = u.doc_id
       |LEFT JOIN pass s ON s.query_id = u.query_id AND s.doc_id = u.doc_id
       |ORDER BY u.query_id, u.doc_id""".stripMargin

  private def prefixCompleteSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS term
       |              FROM documents),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks GROUP BY doc_id, term),
       |cf AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post
       |       GROUP BY term)
       |SELECT prefix, term, cf, rank FROM (
       |  SELECT substr(term, 1, $PrefixLen) AS prefix, term, cf,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY substr(term, 1, $PrefixLen)
       |           ORDER BY cf DESC, term ASC) AS INT) AS rank
       |  FROM cf) WHERE rank <= 5
       |ORDER BY prefix, rank""".stripMargin

  private def ThetaK: Int = 64

  /** q176 oracle: lex and dense top-20 with raw scores, per-query
    * min-max normalization (constant-score queries normalize to 0.0),
    * CombSUM in system order, CombMNZ = sum × hit count. */
  private def combFuseSql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 20)},
       |${denseCtes(20)},
       |dden AS (SELECT d.query_id, d.doc_id, dsc.cosine AS score
       |         FROM den d JOIN dsc ON dsc.query_id = d.query_id
       |          AND dsc.doc_id = d.doc_id),
       |lmm AS (SELECT query_id, min(score) AS mn, max(score) AS mx
       |        FROM lex GROUP BY query_id),
       |dmm AS (SELECT query_id, min(score) AS mn, max(score) AS mx
       |        FROM dden GROUP BY query_id),
       |ln AS (SELECT l.query_id, l.doc_id,
       |         CASE WHEN m.mx > m.mn THEN (l.score - m.mn) / (m.mx - m.mn)
       |              ELSE CAST(0 AS DOUBLE) END AS norm_lex
       |       FROM lex l JOIN lmm m USING (query_id)),
       |dn AS (SELECT d.query_id, d.doc_id,
       |         CASE WHEN m.mx > m.mn THEN (d.score - m.mn) / (m.mx - m.mn)
       |              ELSE CAST(0 AS DOUBLE) END AS norm_dense
       |       FROM dden d JOIN dmm m USING (query_id)),
       |fz AS (SELECT coalesce(ln.query_id, dn.query_id) AS query_id,
       |              coalesce(ln.doc_id, dn.doc_id) AS doc_id,
       |              ln.norm_lex, dn.norm_dense
       |       FROM ln FULL JOIN dn
       |         ON dn.query_id = ln.query_id AND dn.doc_id = ln.doc_id),
       |sc2 AS (SELECT query_id, doc_id,
       |          coalesce(norm_lex, CAST(0 AS DOUBLE))
       |            + coalesce(norm_dense, CAST(0 AS DOUBLE)) AS comb_sum,
       |          CAST((CASE WHEN norm_lex IS NOT NULL THEN 1 ELSE 0 END)
       |            + (CASE WHEN norm_dense IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_systems
       |        FROM fz)
       |SELECT query_id, doc_id, comb_sum, n_systems, comb_mnz, rank FROM (
       |  SELECT sc2.query_id, sc2.doc_id, sc2.comb_sum, sc2.n_systems,
       |         sc2.comb_sum * CAST(sc2.n_systems AS DOUBLE) AS comb_mnz,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY sc2.query_id
       |           ORDER BY sc2.comb_sum * CAST(sc2.n_systems AS DOUBLE)
       |             DESC, sc2.doc_id ASC) AS INT) AS rank
       |  FROM sc2) WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private def queryDifficultySql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 10)},
       |pt AS (SELECT w.query_id,
       |         CAST(count(*) AS BIGINT) AS n_terms,
       |         CAST(sum(w.idf_milli) // count(*) AS BIGINT)
       |           AS mean_idf_milli,
       |         CAST(min(w.idf_milli) AS BIGINT) AS min_idf_milli,
       |         CAST(max(w.idf_milli) AS BIGINT) AS max_idf_milli,
       |         CAST(sum(dfq.df) AS BIGINT) AS sum_df
       |       FROM w JOIN dfq USING (term) GROUP BY w.query_id),
       |scope AS (SELECT q.query_id,
       |            CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_scope
       |          FROM post p JOIN q ON p.term = q.term
       |          GROUP BY q.query_id)
       |SELECT pt.query_id, pt.n_terms, pt.mean_idf_milli,
       |       pt.min_idf_milli, pt.max_idf_milli, pt.sum_df,
       |       coalesce(scope.n_scope, CAST(0 AS BIGINT)) AS n_scope,
       |       CAST(coalesce(scope.n_scope, 0) * 1000 // stats.nd
       |         AS BIGINT) AS scope_permille
       |FROM pt LEFT JOIN scope USING (query_id) CROSS JOIN stats
       |ORDER BY pt.query_id""".stripMargin

  /** (slice, h) hash sets for the theta queries: language slices over
    * the word-3-gram universe, h60(md5) per the repo hash convention. */
  private def thetaHashes(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    graft.operators.ThetaSketch.sliceHashes(
      Tables(s, dir).documents.select(col("lang").as("slice"),
        explode(TextFunctions.wordShingles(col("text"), 3)).as("item")))

  /** Shared theta CTEs ending in `hs (slice, h)`, `nd (slice,
    * n_distinct)`, `th (slice, theta)`. */
  private def thetaCtes: String =
    s"""it AS (SELECT DISTINCT lang AS slice,
       |         unnest(${OracleSql.grams(3)}) AS item FROM documents),
       |hs AS (SELECT DISTINCT slice,
       |         CAST(concat('0x', substr(md5(item), 1, 15)) AS BIGINT) AS h
       |       FROM it),
       |nd AS (SELECT slice, CAST(count(*) AS BIGINT) AS n_distinct
       |       FROM hs GROUP BY slice),
       |th AS (SELECT slice, h AS theta FROM (
       |        SELECT slice, h, ROW_NUMBER() OVER (PARTITION BY slice
       |          ORDER BY h ASC) AS rk FROM hs) WHERE rk = $ThetaK)"""
      .stripMargin

  private def ThetaM: String = "1152921504606846976" // 2^60

  private def thetaEstimateSql: String =
    s"""WITH $thetaCtes
       |SELECT nd.slice, nd.n_distinct, th.theta,
       |       CAST(CASE WHEN th.theta IS NULL THEN nd.n_distinct
       |            ELSE (CAST(${ThetaK - 1} AS HUGEINT) *
       |                  CAST('$ThetaM' AS HUGEINT))
       |                 // CAST(th.theta AS HUGEINT) END AS BIGINT)
       |         AS est_distinct
       |FROM nd LEFT JOIN th USING (slice)
       |ORDER BY nd.slice""".stripMargin

  private def thetaOverlapSql: String =
    s"""WITH $thetaCtes,
       |pr AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
       |              least(ta.theta, tb.theta) AS theta_ab
       |       FROM nd a JOIN nd b ON a.slice < b.slice
       |       LEFT JOIN th ta ON ta.slice = a.slice
       |       LEFT JOIN th tb ON tb.slice = b.slice),
       |cm AS (SELECT ha.slice AS slice_a, hb.slice AS slice_b, ha.h
       |       FROM hs ha JOIN hs hb ON hb.h = ha.h
       |        AND ha.slice < hb.slice),
       |ct AS (SELECT cm.slice_a, cm.slice_b,
       |         CAST(count(*) AS BIGINT) AS exact_inter,
       |         CAST(sum(CASE WHEN pr.theta_ab IS NULL
       |                        OR cm.h < pr.theta_ab
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS c_below
       |       FROM cm JOIN pr USING (slice_a, slice_b)
       |       GROUP BY cm.slice_a, cm.slice_b)
       |SELECT slice_a, slice_b, theta_ab, c_below, est_inter, exact_inter,
       |       CAST(abs(est_inter - exact_inter) * 1000
       |            // greatest(exact_inter, 1) AS BIGINT) AS err_permille
       |FROM (SELECT pr.slice_a, pr.slice_b, pr.theta_ab,
       |        coalesce(ct.c_below, CAST(0 AS BIGINT)) AS c_below,
       |        CAST(CASE WHEN pr.theta_ab IS NULL
       |               THEN coalesce(ct.c_below, 0)
       |             ELSE (CAST(coalesce(ct.c_below, 0) AS HUGEINT) *
       |                   CAST('$ThetaM' AS HUGEINT))
       |                  // CAST(pr.theta_ab AS HUGEINT) END AS BIGINT)
       |          AS est_inter,
       |        coalesce(ct.exact_inter, CAST(0 AS BIGINT)) AS exact_inter
       |      FROM pr LEFT JOIN ct USING (slice_a, slice_b))
       |ORDER BY slice_a, slice_b""".stripMargin

  /** q178 oracle — the sketch-only contract made literal: the common
    * join runs over `sk`, each slice's k smallest hashes, never `hs`. */
  private def thetaSketchOnlySql: String =
    s"""WITH $thetaCtes,
       |sk AS (SELECT slice, h FROM (
       |        SELECT slice, h, ROW_NUMBER() OVER (PARTITION BY slice
       |          ORDER BY h ASC) AS rk FROM hs) WHERE rk <= $ThetaK),
       |pr AS (SELECT a.slice AS slice_a, b.slice AS slice_b,
       |              least(ta.theta, tb.theta) AS theta_ab
       |       FROM nd a JOIN nd b ON a.slice < b.slice
       |       LEFT JOIN th ta ON ta.slice = a.slice
       |       LEFT JOIN th tb ON tb.slice = b.slice),
       |cm AS (SELECT sa.slice AS slice_a, sb.slice AS slice_b, sa.h
       |       FROM sk sa JOIN sk sb ON sb.h = sa.h
       |        AND sa.slice < sb.slice),
       |ct AS (SELECT cm.slice_a, cm.slice_b,
       |         CAST(sum(CASE WHEN pr.theta_ab IS NULL
       |                        OR cm.h < pr.theta_ab
       |                       THEN 1 ELSE 0 END) AS BIGINT) AS c_below
       |       FROM cm JOIN pr USING (slice_a, slice_b)
       |       GROUP BY cm.slice_a, cm.slice_b)
       |SELECT pr.slice_a, pr.slice_b, pr.theta_ab,
       |       coalesce(ct.c_below, CAST(0 AS BIGINT)) AS c_below,
       |       CAST(CASE WHEN pr.theta_ab IS NULL
       |              THEN coalesce(ct.c_below, 0)
       |            ELSE (CAST(coalesce(ct.c_below, 0) AS HUGEINT) *
       |                  CAST('$ThetaM' AS HUGEINT))
       |                 // CAST(pr.theta_ab AS HUGEINT) END AS BIGINT)
       |         AS est_inter
       |FROM pr LEFT JOIN ct USING (slice_a, slice_b)
       |ORDER BY slice_a, slice_b""".stripMargin

  /** q179 oracle — the OTHER side of the mergeability law: sketch the
    * per-pair union hash sets from scratch (rank over hu), where the
    * Spark side merges the two k-row sketches. Equal by the KMV
    * merge theorem: the k smallest of A ∪ B are each among the k
    * smallest of A or of B. */
  private def thetaUnionSql: String =
    s"""WITH $thetaCtes,
       |pu AS (SELECT a.slice AS slice_a, b.slice AS slice_b
       |       FROM nd a JOIN nd b ON a.slice < b.slice),
       |hu AS (SELECT DISTINCT pu.slice_a, pu.slice_b, hs.h
       |       FROM pu JOIN hs ON hs.slice = pu.slice_a
       |                       OR hs.slice = pu.slice_b),
       |nu AS (SELECT slice_a, slice_b,
       |         CAST(count(*) AS BIGINT) AS n_union
       |       FROM hu GROUP BY slice_a, slice_b),
       |tu AS (SELECT slice_a, slice_b, h AS theta_u FROM (
       |        SELECT slice_a, slice_b, h,
       |          ROW_NUMBER() OVER (PARTITION BY slice_a, slice_b
       |            ORDER BY h ASC) AS rk FROM hu) WHERE rk = $ThetaK)
       |SELECT nu.slice_a, nu.slice_b, tu.theta_u,
       |       CAST(CASE WHEN tu.theta_u IS NULL THEN nu.n_union
       |            ELSE (CAST(${ThetaK - 1} AS HUGEINT) *
       |                  CAST('$ThetaM' AS HUGEINT))
       |                 // CAST(tu.theta_u AS HUGEINT) END AS BIGINT)
       |         AS est_union
       |FROM nu LEFT JOIN tu USING (slice_a, slice_b)
       |ORDER BY slice_a, slice_b""".stripMargin

  private def redactSql: String =
    s"""WITH $posPostSql,
       |$phraseOccCtes,
       |spans AS (SELECT doc_id,
       |            unnest(range(anchor, anchor + n_terms)) AS pos
       |          FROM pocc),
       |mask AS (SELECT doc_id,
       |           list_sort(list_distinct(list(pos))) AS mask
       |         FROM spans GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(m.mask) AS BIGINT) AS n_redacted_tokens,
       |       array_to_string(list_transform(range(1, len(t.ts) + 1),
       |         i -> CASE WHEN list_contains(m.mask, i) THEN '___'
       |                   ELSE t.ts[i] END), ' ') AS redacted_text
       |FROM toksl t JOIN mask m USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  private def serpCollapseSql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 20)},
       |fp AS (SELECT doc_id,
       |         md5(array_to_string(list_sort(list_distinct($ToksSql)), ' '))
       |           AS fp
       |       FROM documents),
       |kept AS (SELECT query_id, doc_id, rank AS orig_rank FROM (
       |    SELECT l.query_id, l.doc_id, l.rank,
       |           ROW_NUMBER() OVER (PARTITION BY l.query_id, f.fp
       |             ORDER BY l.rank ASC) AS krk
       |    FROM lex l JOIN fp f USING (doc_id)) WHERE krk = 1)
       |SELECT query_id, doc_id, orig_rank, rank FROM (
       |  SELECT query_id, doc_id, orig_rank,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY orig_rank ASC) AS INT) AS rank
       |  FROM kept)
       |ORDER BY query_id, rank""".stripMargin

  /** q172 oracle: deletion variants via list_transform over a range,
    * the same variant set the engine builds (self + nonempty single
    * deletions, distinct). */
  private def spellCorrectSql: String = {
    def variants(t: String): String =
      s"""list_distinct(list_append(
         |  list_filter(list_transform(range(1, length($t) + 1),
         |    i -> substr($t, 1, i - 1) || substr($t, i + 1)),
         |    v -> v <> ''), $t))""".stripMargin
    s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS term
       |              FROM documents),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks GROUP BY doc_id, term),
       |cfx AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM post
       |        GROUP BY term),
       |qt AS (SELECT DISTINCT substr(term, 1, 1) || substr(term, 3)
       |         AS token
       |       FROM cfx WHERE length(term) >= 4),
       |vv AS (SELECT term, cf, unnest(${variants("term")}) AS variant
       |       FROM cfx),
       |qv AS (SELECT token, unnest(${variants("token")}) AS variant
       |       FROM qt),
       |cand AS (SELECT DISTINCT qv.token, vv.term, vv.cf
       |         FROM vv JOIN qv USING (variant)),
       |ver AS (SELECT token, term,
       |          CAST(levenshtein(token, term) AS INT) AS dist, cf
       |        FROM cand WHERE levenshtein(token, term) <= 1)
       |SELECT token, term, dist, cf, rank FROM (
       |  SELECT ver.*, CAST(ROW_NUMBER() OVER (PARTITION BY token
       |    ORDER BY cf DESC, term ASC) AS INT) AS rank FROM ver)
       |WHERE rank <= 5 ORDER BY token, rank""".stripMargin
  }

  private def indexVbyteSql: String = {
    def vb(c: String): String =
      s"""CASE WHEN $c < 128 THEN 1 WHEN $c < 16384 THEN 2
         | WHEN $c < 2097152 THEN 3 WHEN $c < 268435456 THEN 4
         | ELSE 5 END""".stripMargin
    s"""WITH toks AS (SELECT doc_id, unnest($ToksSql) AS term
       |              FROM documents),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM toks GROUP BY doc_id, term),
       |g AS (SELECT term, tf,
       |        CASE WHEN lag(doc_id) OVER
       |               (PARTITION BY term ORDER BY doc_id) IS NULL
       |             THEN doc_id + 1
       |             ELSE doc_id - lag(doc_id) OVER
       |               (PARTITION BY term ORDER BY doc_id) END AS gap
       |      FROM post)
       |SELECT term, CAST(count(*) AS BIGINT) AS df,
       |       CAST(sum(${vb("gap")}) AS BIGINT) AS bytes_docgaps,
       |       CAST(sum(${vb("tf")}) AS BIGINT) AS bytes_tf,
       |       CAST((sum(${vb("gap")}) + sum(${vb("tf")})) * 1000
       |            // count(*) AS BIGINT) AS bytes_per_posting_permille
       |FROM g GROUP BY term
       |ORDER BY df DESC, term ASC""".stripMargin
  }

  private val posStoreDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Build-once-per-(session, sf) incremental POSITIONAL index fixture —
    * the [[incrementalPost]] layout (batches by doc_id mod 3, first two
    * compacted, third a live delta) with occurrence rows. */
  private def incrementalPosPost(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val storeDir = posStoreDirs.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => {
        val d = java.nio.file.Files
          .createTempDirectory("graft-pospostings").toString
        val docs = Tables(s, dir).documents
        Seq(0, 1).foreach { b =>
          graft.sources.PosPostingsStore.appendDelta(
            graft.operators.Retrieval.posPostings(
              docs.filter(col("doc_id") % 3 === b)), d, s"batch$b")
        }
        graft.sources.PosPostingsStore.compact(s, d)
        graft.sources.PosPostingsStore.appendDelta(
          graft.operators.Retrieval.posPostings(
            docs.filter(col("doc_id") % 3 === 2)), d, "batch2")
        d
      })
    graft.sources.PosPostingsStore.load(s, storeDir)
  }

  /** q167 oracle: the collocation derivation with HUGEINT products —
    * the DuckDB twin of the engine's DECIMAL(38,0) arithmetic. */
  private def collocationsSql: String =
    s"""WITH toksl AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |pr AS (SELECT unnest(ts[1:len(ts) - 1]) AS x,
       |              unnest(ts[2:len(ts)]) AS y FROM toksl),
       |und AS (SELECT least(x, y) AS a, greatest(x, y) AS b,
       |               CAST(count(*) AS BIGINT) AS w
       |        FROM pr WHERE x <> y GROUP BY least(x, y), greatest(x, y)),
       |uni AS (SELECT t, CAST(count(*) AS BIGINT) AS c FROM
       |        (SELECT unnest(ts) AS t FROM toksl) GROUP BY t),
       |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
       |sc AS (SELECT und.a, und.b, und.w AS c_ab, ua.c AS c_a, ub.c AS c_b,
       |         CAST((CAST(und.w AS HUGEINT) * CAST(nt.n AS HUGEINT) * 1000)
       |              // (CAST(ua.c AS HUGEINT) * CAST(ub.c AS HUGEINT))
       |           AS BIGINT) AS assoc_milli
       |       FROM und JOIN uni ua ON ua.t = und.a
       |       JOIN uni ub ON ub.t = und.b CROSS JOIN nt
       |       WHERE und.w >= $CollocMinCount)
       |SELECT a, b, c_ab, c_a, c_b, assoc_milli, rank FROM (
       |  SELECT sc.*, CAST(ROW_NUMBER() OVER
       |    (ORDER BY assoc_milli DESC, a ASC, b ASC) AS INT) AS rank
       |  FROM sc) WHERE rank <= $CollocTopK
       |ORDER BY rank""".stripMargin

  private val posPostPaths =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Positional postings built once per (session, sf) and
    * PARQUET-BACKED — q160/q161 probe the same index the way a serving
    * system would (same round-19 change as [[bm25Post]]: a persist-only
    * memo was dropped by every between-query cache clear, so each
    * probe query paid a fresh occurrence-explode corpus pass). */
  private def posPost(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val path = posPostPaths.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => {
        val p = java.nio.file.Files
          .createTempDirectory("graft-pospost").toString
        graft.operators.Retrieval.posPostings(Tables(s, dir).documents)
          .write.mode("overwrite").parquet(p)
        p
      })
    s.read.parquet(path)
  }

  /** Phrase-query set: the 3 tokens at positions 2-4 of docs 0-7 — an
    * interior slice so the phrase is not just a document prefix, short
    * enough to occur beyond its source doc on this corpus. */
  private def phraseQueries(s: SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    Tables(s, dir).documents.filter(col("doc_id") < 8)
      .select(col("doc_id").as("query_id"),
        array_join(slice(TextFunctions.tokens(col("text")), 2, 3), " ")
          .as("text"))

  /** Shared CTE: positional postings — one row per token occurrence,
    * parallel-unnest zip of the token list with its 1-based index. */
  private def posPostSql: String =
    s"""toksl AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |pp AS (SELECT doc_id, unnest(ts) AS term,
       |              CAST(unnest(range(1, len(ts) + 1)) AS BIGINT) AS pos
       |       FROM toksl)""".stripMargin

  /** Phrase-occurrence CTEs (expect `pp` in scope): the doc-prefix
    * phrase set, anchored-ordinal matching, ending in `pocc AS
    * (query_id, doc_id, anchor, n_terms)` — one row per FULL match.
    * q160/q166 rank from it; q173 redacts from it. */
  private def phraseOccCtes: String =
    s"""ph AS (SELECT doc_id AS query_id, ($ToksSql)[2:4] AS pts
       |       FROM documents WHERE doc_id < 8),
       |pt AS (SELECT query_id, unnest(pts) AS term,
       |              CAST(unnest(range(1, len(pts) + 1)) AS BIGINT) AS ord
       |       FROM ph),
       |plen AS (SELECT query_id, CAST(count(DISTINCT ord) AS BIGINT) AS n_terms
       |         FROM pt GROUP BY query_id),
       |occ AS (SELECT pt.query_id, pp.doc_id,
       |               pp.pos - pt.ord + 1 AS anchor,
       |               count(DISTINCT pt.ord) AS n_ord
       |        FROM pp JOIN pt ON pp.term = pt.term
       |        GROUP BY pt.query_id, pp.doc_id, pp.pos - pt.ord + 1),
       |pocc AS (SELECT occ.query_id, occ.doc_id, occ.anchor, plen.n_terms
       |         FROM occ JOIN plen ON plen.query_id = occ.query_id
       |         WHERE occ.n_ord = plen.n_terms)""".stripMargin

  private def phraseMatchSql: String =
    s"""WITH $posPostSql,
       |$phraseOccCtes,
       |m AS (SELECT query_id, doc_id,
       |             CAST(count(*) AS BIGINT) AS phrase_tf,
       |             CAST(min(anchor) AS BIGINT) AS first_pos
       |      FROM pocc GROUP BY query_id, doc_id)
       |SELECT query_id, doc_id, phrase_tf, first_pos, rank FROM (
       |  SELECT query_id, doc_id, phrase_tf, first_pos,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY phrase_tf DESC, doc_id ASC) AS INT) AS rank
       |  FROM m) WHERE rank <= 10
       |ORDER BY query_id, rank""".stripMargin

  private def proximityRankSql: String =
    s"""WITH $posPostSql,
       |q AS (SELECT DISTINCT query_id, term FROM
       |       (SELECT doc_id AS query_id, unnest(($ToksSql)[1:8]) AS term
       |        FROM documents WHERE doc_id < 8) qq),
       |$proxCtes
       |SELECT query_id, doc_id, min_pair_dist, n_cowindows, rank FROM prox
       |ORDER BY query_id, rank""".stripMargin

  /** The proximity derivation as a reusable WITH-body (expects `pp` and
    * `q` CTEs in scope) ending in
    * `prox AS (query_id, doc_id, min_pair_dist, n_cowindows, rank ≤ 10)`
    * — q161 selects from it directly; q168 embeds it beside the other
    * signal CTEs. */
  private def proxCtes: String =
    s"""nq AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_q
       |       FROM q GROUP BY query_id),
       |m AS (SELECT q.query_id, pp.doc_id, pp.term, pp.pos
       |      FROM pp JOIN q ON pp.term = q.term
       |      WHERE pp.doc_id <> q.query_id),
       |fullm AS (SELECT t.query_id, t.doc_id FROM
       |          (SELECT query_id, doc_id, count(DISTINCT term) AS n_m
       |           FROM m GROUP BY query_id, doc_id) t
       |          JOIN nq USING (query_id) WHERE t.n_m = nq.n_q),
       |mm AS (SELECT m.query_id, m.doc_id, m.term, m.pos
       |       FROM m JOIN fullm USING (query_id, doc_id)),
       |lagd AS (SELECT query_id, doc_id, term, pos,
       |           lag(term) OVER (PARTITION BY query_id, doc_id
       |                           ORDER BY pos) AS ptrm,
       |           lag(pos) OVER (PARTITION BY query_id, doc_id
       |                          ORDER BY pos) AS ppos
       |         FROM mm),
       |dist AS (SELECT query_id, doc_id,
       |           CAST(min(CASE WHEN ptrm IS NOT NULL AND ptrm <> term
       |                         THEN pos - ppos END) AS BIGINT)
       |             AS min_pair_dist
       |         FROM lagd GROUP BY query_id, doc_id),
       |cow AS (SELECT b.query_id, b.doc_id,
       |               CAST(count(*) AS BIGINT) AS n_cowindows FROM
       |        (SELECT query_id, doc_id, (pos - 1) // $ProxBucketW AS bkt,
       |                count(DISTINCT term) AS n_t
       |         FROM mm GROUP BY query_id, doc_id, (pos - 1) // $ProxBucketW) b
       |        JOIN nq USING (query_id)
       |        WHERE b.n_t = nq.n_q GROUP BY b.query_id, b.doc_id),
       |prox AS (SELECT query_id, doc_id, min_pair_dist, n_cowindows, rank
       | FROM (
       |  SELECT d.query_id, d.doc_id, d.min_pair_dist,
       |         coalesce(c.n_cowindows, CAST(0 AS BIGINT)) AS n_cowindows,
       |         CAST(ROW_NUMBER() OVER (PARTITION BY d.query_id
       |           ORDER BY d.min_pair_dist ASC,
       |                    coalesce(c.n_cowindows, CAST(0 AS BIGINT)) DESC,
       |                    d.doc_id ASC) AS INT) AS rank
       |  FROM dist d LEFT JOIN cow c
       |    ON c.query_id = d.query_id AND c.doc_id = d.doc_id
       |  WHERE d.min_pair_dist IS NOT NULL) WHERE rank <= 10)""".stripMargin

  /** q162 oracle: lex top-10 vs the dense top-20 pseudo-qrels; discount
    * and prefix-sum literals interpolated from the SAME pinned
    * [[graft.operators.Retrieval.NdcgDiscountMilli]] table the engine
    * scores with. */
  private def retrievalEvalSql: String = {
    val disc = graft.operators.Retrieval.NdcgDiscountMilli
    val prefix = disc.scanLeft(0L)(_ + _).drop(1)
    s"""WITH ${bm25Ctes(pruned = false, kTop = 10)},
       |${denseCtes(EvalRelK)},
       |relc AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_rel
       |         FROM den GROUP BY query_id),
       |hit AS (SELECT l.query_id, l.rank,
       |               CASE WHEN d.doc_id IS NULL THEN 0 ELSE 1 END AS is_rel
       |        FROM lex l LEFT JOIN den d
       |          ON d.query_id = l.query_id AND d.doc_id = l.doc_id),
       |perq AS (SELECT query_id, CAST(sum(is_rel) AS BIGINT) AS hits,
       |           min(CASE WHEN is_rel = 1 THEN rank END) AS frr,
       |           CAST(sum(CASE WHEN is_rel = 1
       |             THEN ([${disc.mkString(",")}])[rank] ELSE 0 END)
       |             AS BIGINT) AS dcg_milli
       |         FROM hit GROUP BY query_id)
       |SELECT r.query_id, r.n_rel,
       |       CAST(coalesce(p.hits, 0) AS BIGINT) AS hits,
       |       CAST(coalesce(p.hits, 0) * 1000 // 10 AS BIGINT)
       |         AS overlap_permille,
       |       CAST(coalesce(1000 // p.frr, 0) AS BIGINT) AS mrr_milli,
       |       CAST(coalesce(p.dcg_milli, 0) AS BIGINT) AS dcg_milli,
       |       CAST(coalesce(p.dcg_milli, 0) * 1000 //
       |            ([${prefix.mkString(",")}])[least(r.n_rel, 10)]
       |         AS BIGINT) AS ndcg_permille
       |FROM relc r LEFT JOIN perq p USING (query_id)
       |ORDER BY r.query_id""".stripMargin
  }

  /** q164 oracle: the bm25 weight CTEs (for per-query-term idf_milli)
    * plus positional postings; window scoring is a plain range join —
    * the oracle needn't mirror the engine's bucket banding, only its
    * results. Integer arithmetic end to end. */
  private def bestPassageSql: String =
    s"""WITH ${bm25Ctes(pruned = false, kTop = 10)},
       |$posPostSql,
       |$passCtes
       |SELECT query_id, doc_id, window_start, passage_score,
       |       n_window_terms, rank
       |FROM pass ORDER BY query_id, rank""".stripMargin

  /** The best-passage derivation as a reusable WITH-body (expects `pp`
    * and the bm25 `w` CTEs in scope) ending in `pass AS (query_id,
    * doc_id, window_start, passage_score, n_window_terms, rank ≤ 10)`
    * — q164 selects from it directly; q168 embeds it. */
  private def passCtes: String =
    s"""mq AS (SELECT w.query_id, pp.doc_id, pp.term, w.idf_milli, pp.pos
       |       FROM pp JOIN w ON pp.term = w.term
       |       WHERE pp.doc_id <> w.query_id),
       |anch AS (SELECT DISTINCT query_id, doc_id, pos AS anchor FROM mq),
       |winr AS (SELECT DISTINCT a.query_id, a.doc_id, a.anchor,
       |                o.term, o.idf_milli
       |         FROM anch a JOIN mq o
       |           ON o.query_id = a.query_id AND o.doc_id = a.doc_id
       |          AND o.pos >= a.anchor
       |          AND o.pos <= a.anchor + ${PassageW - 1}),
       |psc AS (SELECT query_id, doc_id, anchor,
       |          CAST(sum(idf_milli) AS BIGINT) AS passage_score,
       |          CAST(count(*) AS BIGINT) AS n_window_terms
       |        FROM winr GROUP BY query_id, doc_id, anchor),
       |best AS (SELECT query_id, doc_id, anchor AS window_start,
       |                passage_score, n_window_terms
       |         FROM (SELECT psc.*, ROW_NUMBER() OVER
       |                 (PARTITION BY query_id, doc_id
       |                  ORDER BY passage_score DESC, anchor ASC) AS brk
       |               FROM psc) WHERE brk = 1),
       |pass AS (SELECT query_id, doc_id, window_start, passage_score,
       |        n_window_terms, rank
       |  FROM (SELECT query_id, doc_id, window_start, passage_score,
       |          n_window_terms,
       |          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |            ORDER BY passage_score DESC, doc_id ASC) AS INT) AS rank
       |        FROM best) WHERE rank <= 10)""".stripMargin

  /** q165 oracle: [[MmrM]] UNROLLED greedy MMR selection levels over
    * the dense top-[[MmrPoolK]] — each level anti-joins the picked set,
    * penalizes by max cosine to it (0.0 only when the set is empty),
    * and picks argmax of the pinned λ·rel − (1−λ)·maxsim double,
    * doc-id ascending on ties — matching
    * [[graft.operators.Diversify.mmrSelect]] pick for pick. */
  private def mmrSql: String = {
    val lam = s"(CAST($MmrLambdaMilli AS DOUBLE) / CAST(1000 AS DOUBLE))"
    val om =
      s"(CAST(${1000L - MmrLambdaMilli} AS DOUBLE) / CAST(1000 AS DOUBLE))"
    def level(i: Int): String =
      s"""pool$i AS (SELECT c.query_id, c.doc_id, c.rel, c.cv FROM cand c
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${i - 1} s
         |    WHERE s.query_id = c.query_id AND s.doc_id = c.doc_id)),
         |ms$i AS (SELECT p.query_id, p.doc_id, p.rel,
         |    coalesce(max(${cosineSqlD("p.cv", "s.cv")}),
         |      CAST(0 AS DOUBLE)) AS maxsim
         |  FROM pool$i p LEFT JOIN sel${i - 1} s
         |    ON s.query_id = p.query_id
         |  GROUP BY p.query_id, p.doc_id, p.rel),
         |pick$i AS (SELECT query_id, doc_id, rel, maxsim,
         |    CAST($i AS INT) AS rank FROM
         |  (SELECT ms$i.*, ROW_NUMBER() OVER (PARTITION BY query_id
         |     ORDER BY ($lam * rel - $om * maxsim) DESC, doc_id ASC) AS rn
         |   FROM ms$i) WHERE rn = 1),
         |sel$i AS (SELECT query_id, doc_id, rel, maxsim, rank, cv
         |            FROM sel${i - 1}
         |          UNION ALL
         |          SELECT p.query_id, p.doc_id, p.rel, p.maxsim, p.rank, c.cv
         |          FROM pick$i p JOIN cand c
         |            ON c.query_id = p.query_id AND c.doc_id = p.doc_id)"""
        .stripMargin
    s"""WITH ${denseCtes(MmrPoolK)},
       |cand AS (SELECT r.query_id, r.doc_id, r.cosine AS rel, dc.cv
       |         FROM (SELECT query_id, doc_id, cosine,
       |                 ROW_NUMBER() OVER (PARTITION BY query_id
       |                   ORDER BY cosine DESC, doc_id ASC) AS rk
       |               FROM dsc) r
       |         JOIN dc ON dc.doc_id = r.doc_id
       |         WHERE r.rk <= $MmrPoolK),
       |sel0 AS (SELECT query_id, doc_id, rel, CAST(0 AS DOUBLE) AS maxsim,
       |                CAST(0 AS INT) AS rank, cv
       |         FROM cand WHERE FALSE),
       |${(1 to MmrM).map(level).mkString(",\n")}
       |SELECT query_id, doc_id, rel, maxsim, rank FROM sel$MmrM
       |ORDER BY query_id, rank""".stripMargin
  }

  /** q163 oracle: the TextRank graph CTEs plus [[TextRankIters]]
    * UNROLLED power-iteration levels — each level the pinned
    * `base + damp · (src-ascending fold of r·frac)` shape, matching
    * [[graft.operators.GraphRank.pageRank]] operation for operation. */
  private def textRankSql: String = {
    val d = TextRankDampMilli
    def level(prev: String, cur: String): String =
      s"""$cur AS (SELECT nodes.id,
         |  (CAST(${1000L - d} AS DOUBLE) / CAST(1000 AS DOUBLE)
         |     / CAST(nn.n AS DOUBLE)) +
         |  (CAST($d AS DOUBLE) / CAST(1000 AS DOUBLE)) *
         |    coalesce(f.flow, CAST(0 AS DOUBLE)) AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN
         |   (SELECT e.dst, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list(rp.r * e.frac ORDER BY e.src)),
         |      (a, b) -> a + b) AS flow
         |    FROM e JOIN $prev rp ON rp.id = e.src GROUP BY e.dst) f
         |    ON f.dst = nodes.id)""".stripMargin
    val levels = (1 to TextRankIters)
      .map(i => level(s"r${i - 1}", s"r$i")).mkString(",\n")
    s"""WITH toksl AS (SELECT doc_id, $ToksSql AS ts FROM documents),
       |pr AS (SELECT unnest(ts[1:len(ts) - 1]) AS x,
       |              unnest(ts[2:len(ts)]) AS y FROM toksl),
       |und AS (SELECT least(x, y) AS a, greatest(x, y) AS b,
       |               CAST(count(*) AS BIGINT) AS w
       |        FROM pr WHERE x <> y GROUP BY least(x, y), greatest(x, y)),
       |edges AS (SELECT a AS src, b AS dst, w FROM und
       |          UNION ALL SELECT b AS src, a AS dst, w FROM und),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS wout
       |       FROM edges GROUP BY src),
       |e AS (SELECT edges.src, edges.dst,
       |             CAST(edges.w AS DOUBLE) / CAST(ow.wout AS DOUBLE) AS frac
       |      FROM edges JOIN ow USING (src)),
       |r0 AS (SELECT id, CAST(1 AS DOUBLE) / CAST(nn.n AS DOUBLE) AS r
       |       FROM nodes CROSS JOIN nn),
       |$levels
       |SELECT id AS term, r, rank FROM (
       |  SELECT id, r, CAST(ROW_NUMBER() OVER
       |    (ORDER BY r DESC, id ASC) AS INT) AS rank
       |  FROM r$TextRankIters) WHERE rank <= $TextRankTopK
       |ORDER BY rank""".stripMargin
  }
}
