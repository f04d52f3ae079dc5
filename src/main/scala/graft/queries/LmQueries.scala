package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.{Materialize, QueryDef, Tables}
import graft.operators.LmOps

/** LM-flavored corpus operators as oracle-verified queries: unigram
  * surprisal quality scoring, DSIR-style importance weighting, BPE
  * tokenizer training (oracled against an independent sequential witness
  * fixture, the q88 pattern) and BPE application under a fixed merge
  * table (fully DuckDB-recomputable). All integer-exact — see
  * [[graft.operators.LmOps]] for the bitLen/log2 argument.
  */
object LmQueries {

  private val ToksSql = OracleSql.Toks
  private val Grams2Sql = OracleSql.grams(2)
  private def fnvBucketSql(s: String): String = OracleSql.fnvBucket(s)

  /** `f` over the corpus word histogram, kept while `f` runs. */
  private def withHistogram[T](s: SparkSession, dir: String)(
      f: org.apache.spark.sql.DataFrame => T): T =
    Materialize.scope { m =>
      f(m.keep(LmOps.wordHistogram(Tables(s, dir).documents)))
    }

  /** Placeholder in q129's oracle SQL for the BPE witness fixture root —
    * Verify substitutes the per-(session, sf) path the same way it
    * resolves [[CorpusQueries.DeflateFixtureToken]]. */
  val BpeFixtureToken = "__GRAFT_BPE_FIXTURE__"

  private val bpeFixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def bpeFixturePath(s: SparkSession, dir: String): String =
    bpeFixtureDirs.computeIfAbsent(
      s.sparkContext.applicationId + ":" + dir,
      _ => java.nio.file.Files.createTempDirectory("graft-bpe").toString)

  private val BpeMaxMerges = 24

  /** Build-once-per-(session, sf) BPE WITNESS for q129: the merge table
    * recomputed by [[LmOps.bpeTrainWitness]] — textbook sequential BPE
    * sharing no mechanism with the distributed trainer (code-point
    * splitting vs regex, index-scan merge vs fold, hash-map counts vs
    * Spark aggregation). DuckDB cannot train BPE itself, so the oracle
    * reads the witness fixture; the hash compare then checks the
    * DISTRIBUTED path against an independent derivation. The histogram
    * collect is vocab-sized (bounded by the generator's vocabulary), so
    * the witness is a fixture tool, not a data-plane operator. */
  private val bpeFixtureBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def ensureBpeFixture(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + ":" + dir
    val path = bpeFixturePath(s, dir)
    bpeFixtureBuilt.computeIfAbsent(key, _ => {
      val hist = LmOps.wordHistogram(Tables(s, dir).documents)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val merges = LmOps.bpeTrainWitness(hist, BpeMaxMerges)
      LmOps.mergesToDf(s, merges)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/merges")
      // q132's roundtrip witness: per-doc word/subword counts under the
      // WITNESS-trained merges, applied by the index-scan path (shares
      // no mechanism with the distributed trainer or the replace-chain
      // apply) — a Dataset map like the q88 deflate witness.
      import s.implicits._
      val pairs = merges.map(m => (m.a, m.b))
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val words = text.split("\\s+").filter(_.nonEmpty)
          val nSub = words.map(w => LmOps.applyMergesScan(w, pairs).toLong).sum
          (id, words.length.toLong, nSub)
        }
        .toDF("doc_id", "n_words", "n_subwords")
        .write.mode("overwrite").parquet(s"$path/apply")
      // q136's encode witness: per-doc (n_ids, checksum) under the
      // witness-trained merges, witness-derived alphabet (codePointChars
      // vs the engine's regex split), and the index-scan apply — the
      // ordered id-sequence checksum pins every id, boundary, and
      // position of the tokenize-to-ids stage.
      val witnessAlpha = hist.iterator
        .flatMap { case (w, _) => LmOps.codePointChars(w) }.distinct.toSeq
      val vocabIds = LmOps.bpeVocabIds(witnessAlpha, merges)
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          var n = 0L
          var h = graft.functions.BpeEncodeExpr.ChecksumOffset
          text.split("\\s+").filter(_.nonEmpty).foreach { w =>
            LmOps.applyMergesScanSyms(w, pairs).foreach { sym =>
              h = h * graft.functions.BpeEncodeExpr.ChecksumPrime +
                (vocabIds.getOrElse(sym, -1) + 1L)
              n += 1
            }
          }
          (id, n, h)
        }
        .toDF("doc_id", "n_ids", "checksum")
        .write.mode("overwrite").parquet(s"$path/encode")
      // q145's UPGRADE-BASE encode witness: the same derivation under
      // only the first UpgradeBaseMerges ranks — the "old tokenizer"
      // side of the upgrade diff. The id layout of a merge-table PREFIX
      // is a prefix of the full layout (alphabet ids + rank order), so
      // an unchanged tokenization keeps its checksum across the
      // upgrade and `checksum <> checksum` flags exactly the docs whose
      // token streams moved.
      val basePairs = merges.take(UpgradeBaseMerges).map(m => (m.a, m.b))
      val baseVocab = LmOps.bpeVocabIds(witnessAlpha,
        merges.take(UpgradeBaseMerges))
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          var n = 0L
          var h = graft.functions.BpeEncodeExpr.ChecksumOffset
          text.split("\\s+").filter(_.nonEmpty).foreach { w =>
            LmOps.applyMergesScanSyms(w, basePairs).foreach { sym =>
              h = h * graft.functions.BpeEncodeExpr.ChecksumPrime +
                (baseVocab.getOrElse(sym, -1) + 1L)
              n += 1
            }
          }
          (id, n, h)
        }
        .toDF("doc_id", "n_ids", "checksum")
        .write.mode("overwrite").parquet(s"$path/encode_base")
      true
    })
    path
  }

  /** The "old tokenizer" merge count of q145's upgrade diff — a PREFIX
    * of the trained table (BPE training is incremental, so yesterday's
    * tokenizer IS a rank prefix of today's). */
  private val UpgradeBaseMerges = 16

  /** Byte-level merge budget — same bound as the char-level table so
    * the two trains price comparably in the bench. */
  private val ByteBpeMaxMerges = 24

  /** Build-once-per-(session, sf) BYTE-LEVEL BPE witness for
    * q180/q181: the same independent sequential chain as
    * [[ensureBpeFixture]] (textbook [[LmOps.bpeTrainWitness]] trainer,
    * index-scan apply, driver-side id fold), seeded from
    * [[graft.functions.ByteBpe.remap]]-ed words — the remap TABLE is
    * the shared pinned contract (the ChecksumOffset convention); every
    * mechanism around it stays independent of the distributed path. */
  private val byteBpeFixtureBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def ensureByteBpeFixture(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + ":" + dir
    val path = bpeFixturePath(s, dir)
    byteBpeFixtureBuilt.computeIfAbsent(key, _ => {
      import graft.functions.ByteBpe
      val hist = LmOps.wordHistogram(Tables(s, dir).documents)
        .collect().map(r => ByteBpe.remap(r.getString(0)) -> r.getLong(1))
        .toSeq
      val merges = LmOps.bpeTrainWitness(hist, ByteBpeMaxMerges)
      LmOps.mergesToDf(s, merges)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/byte_merges")
      val pairs = merges.map(m => (m.a, m.b))
      val vocabIds = ByteBpe.vocabIds(merges)
      import s.implicits._
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          var n = 0L
          var h = graft.functions.BpeEncodeExpr.ChecksumOffset
          text.split("\\s+").filter(_.nonEmpty).foreach { w =>
            LmOps.applyMergesScanSyms(ByteBpe.remap(w), pairs).foreach { sym =>
              h = h * graft.functions.BpeEncodeExpr.ChecksumPrime +
                (vocabIds.getOrElse(sym, -1) + 1L)
              n += 1
            }
          }
          (id, n, h)
        }
        .toDF("doc_id", "n_ids", "checksum")
        .write.mode("overwrite").parquet(s"$path/byte_encode")
      true
    })
    path
  }

  /** Build-once-per-(session, sf) UNIGRAM-LM WITNESS for q137/q138:
    * the piece table recomputed by [[graft.operators.UnigramLm
    * .trainWitness]] — sequential hard-EM sharing no mechanism with the
    * distributed trainer (memoized-recursion Viterbi vs the iterative
    * array DP, nested-loop candidate counting vs the explode
    * aggregation, plain maps vs Spark jobs) — plus the per-doc encode
    * report under the witness vocabulary and witness segmenter. Written
    * under the same per-(session, sf) fixture root as the BPE witness
    * so Verify's one token substitution covers both. */
  private val unigramFixtureBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def ensureUnigramFixture(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + ":" + dir
    val path = bpeFixturePath(s, dir)
    unigramFixtureBuilt.computeIfAbsent(key, _ => {
      import s.implicits._
      import graft.operators.UnigramLm
      val hist = LmOps.wordHistogram(Tables(s, dir).documents)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val pieces = UnigramLm.trainWitness(hist)
      UnigramLm.piecesToDf(s, pieces)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/unigram_vocab")
      // q138's encode witness: segmentWitness + driver checksum fold —
      // both independent of the engine's expression kernels
      val counts = pieces.map(p => p.piece -> p.count).toMap
      val n = math.max(1L, counts.valuesIterator.sum)
      val costs = counts.map { case (p, c) =>
        p -> graft.functions.UnigramViterbi.cost(n, c) }
      val unk = graft.functions.UnigramViterbi.unknownCost(n)
      val ids = pieces.map(p => p.piece -> p.id).toMap
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          var np = 0L
          var h = graft.functions.BpeEncodeExpr.ChecksumOffset
          text.split("\\s+").filter(_.nonEmpty).foreach { w =>
            UnigramLm.segmentWitness(w, costs, unk).foreach { p =>
              h = h * graft.functions.BpeEncodeExpr.ChecksumPrime +
                (ids.getOrElse(p, -1) + 1L)
              np += 1
            }
          }
          (id, np, h)
        }
        .toDF("doc_id", "n_pieces", "checksum")
        .write.mode("overwrite").parquet(s"$path/unigram_encode")
      // q146's FROM-TRAINED WordPiece witness: positional ##-forms of
      // the witness-trained pieces, counted by segmentWitness over the
      // histogram (driver loops vs the engine's posexplode aggregation)
      val wpTrained = graft.operators.WordPiece.fromTrainedWitness(hist, pieces)
      graft.operators.WordPiece.vocabToDf(s, wpTrained)
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$path/wp_from_trained")
      // q147's encode witness under that vocabulary: the WordPiece
      // witness matcher (code-point index walk vs the kernel's
      // UTF-16-offset scan) + driver checksum fold. The from-trained
      // vocabulary has NO protected-singles stage, so UNK words are
      // possible wherever segmentation never visited a code point —
      // the encode pins that honestly.
      val wpIds = wpTrained.map(p => p.piece -> p.id).toMap
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          var np = 0L
          var nUnk = 0L
          var h = graft.functions.BpeEncodeExpr.ChecksumOffset
          text.split("\\s+").filter(_.nonEmpty).foreach { w =>
            graft.operators.WordPiece.encodeWordWitness(w, wpIds) match {
              case Some(ps) => ps.foreach { p =>
                h = h * graft.functions.BpeEncodeExpr.ChecksumPrime +
                  (wpIds(p) + 1L)
                np += 1
              }
              case None =>
                np += 1; nUnk += 1
                h = h * graft.functions.BpeEncodeExpr.ChecksumPrime
            }
          }
          (id, np, nUnk, h)
        }
        .toDF("doc_id", "n_pieces", "n_unk", "checksum")
        .write.mode("overwrite").parquet(s"$path/wp_from_trained_encode")
      true
    })
    path
  }

  /** Build-once-per-(session, sf) WORDPIECE WITNESS for q142/q143:
    * vocabulary derived by [[graft.operators.WordPiece
    * .deriveVocabWitness]] (nested driver loops vs the engine's explode
    * aggregation) and the per-doc encode under [[graft.operators
    * .WordPiece.encodeWordWitness]] (code-point index walk vs the
    * kernel's UTF-16-offset scan) — same fixture root as the BPE and
    * unigram witnesses. */
  private val wordPieceFixtureBuilt =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def ensureWordPieceFixture(s: SparkSession, dir: String): String = {
    val key = s.sparkContext.applicationId + ":" + dir
    val path = bpeFixturePath(s, dir)
    wordPieceFixtureBuilt.computeIfAbsent(key, _ => {
      import s.implicits._
      import graft.operators.WordPiece
      val hist = LmOps.wordHistogram(Tables(s, dir).documents)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      val vocab = WordPiece.deriveVocabWitness(hist)
      WordPiece.vocabToDf(s, vocab)
        .coalesce(1).write.mode("overwrite").parquet(s"$path/wordpiece_vocab")
      val ids = vocab.map(p => p.piece -> p.id).toMap
      Tables(s, dir).documents.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          var np = 0L
          var unk = 0L
          var h = graft.functions.BpeEncodeExpr.ChecksumOffset
          text.split("\\s+").filter(_.nonEmpty).foreach { w =>
            WordPiece.encodeWordWitness(w, ids) match {
              case Some(pieces) =>
                pieces.foreach { p =>
                  h = h * graft.functions.BpeEncodeExpr.ChecksumPrime +
                    (ids(p) + 1L)
                  np += 1
                }
              case None =>
                np += 1; unk += 1
                h = h * graft.functions.BpeEncodeExpr.ChecksumPrime
            }
          }
          (id, np, unk, h)
        }
        .toDF("doc_id", "n_pieces", "n_unk", "checksum")
        .write.mode("overwrite").parquet(s"$path/wordpiece_encode")
      true
    })
    path
  }

  /** The longest whitespace token the q130 oracle construction covers.
    * [[BpeFixpointPasses]] is DERIVED from this bound, and the bound is
    * CHECKED against the corpus (once per session+sf, memoized) in the
    * q130 lambda — so a longer generator token fails with a named
    * precondition error at the check site instead of a confusing oracle
    * hash mismatch. */
  private val MaxOracleWordChars = 256

  /** Replace-to-fixpoint pass count per rule, derived from the word
    * bound rather than hardcoded: a word of L chars holds at most L/2
    * adjacent disjoint pairs of one rule, and each replace pass halves
    * the unmerged remainder of an alternating run, so
    * ceil(log2(L/2)) passes reach the fixpoint for any word ≤ L chars. */
  private val BpeFixpointPasses: Int = {
    val maxPairs = math.max(2, MaxOracleWordChars / 2)
    32 - Integer.numberOfLeadingZeros(maxPairs - 1) // ceil(log2(maxPairs))
  }

  /** Once-per-(session, sf) corpus check that every whitespace token is
    * within [[MaxOracleWordChars]] — the q130 oracle's precondition,
    * checked where the data can drift. Memoized so bench min-of-runs
    * prices the query, not the guard; the one pass is a map-side max
    * over per-doc token-length maxima (no explode shuffle). */
  private val wordLenChecked =
    new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private def assertOracleWordLen(s: SparkSession, dir: String): Unit = {
    val key = s.sparkContext.applicationId + ":" + dir
    wordLenChecked.computeIfAbsent(key, _ => {
      val maxLen = Option(Tables(s, dir).documents
        .agg(max(array_max(transform(
          graft.functions.TextFunctions.tokens(col("text")), t => length(t)))))
        .head().get(0)).map(_.asInstanceOf[Int]).getOrElse(0)
      require(maxLen <= MaxOracleWordChars,
        s"q130 oracle precondition: corpus max token length $maxLen exceeds " +
          s"the $MaxOracleWordChars-char bound $BpeFixpointPasses fixpoint " +
          "passes cover — raise MaxOracleWordChars")
      true
    })
    ()
  }

  /** DuckDB mirror of [[LmOps.bpeSymbolCount]]'s scan semantics. DuckDB
    * has no list fold with a list accumulator, so each rule is a
    * sentinel-delimited `replace(' a b ', ' ab ')` run to FIXPOINT by
    * repetition: a single replace pass misses every other pair of an
    * " a b a b " run (adjacent disjoint matches share a delimiter
    * space).
    *
    * The fixpoint equals the left-to-right scan ONLY under two
    * preconditions, both ASSERTED rather than assumed:
    *   - no rule has a == b — for (a,a) on an odd run "a a a a a" the
    *     replace pairs up (1,2),(4,5) where the scan pairs (1,2),(3,4):
    *     same count, different SYMBOLS, so a later rule consuming the
    *     merged symbol could diverge;
    *   - [[BpeFixpointPasses]] passes per rule cover every word up to
    *     [[MaxOracleWordChars]] chars — a bound [[assertOracleWordLen]]
    *     CHECKS against the corpus in the q130 lambda, rather than
    *     trusting the generator. (The Spark side,
    *     [[graft.functions.BpeApplyExpr]], is an exact scan at any
    *     length.)
    * (The PropertySpec apply law covers the Spark implementations
    * against the witness scan; this SQL construction is covered by the
    * q130 oracle itself under these preconditions.) */
  private val BpeApplySql: String = {
    require(LmOps.FixedMerges.forall { case (a, b) => a != b },
      "replace-to-fixpoint mirrors scan semantics only for a != b rules")
    val spaced = """(' ' || regexp_replace(w, '(.)', '\1 ', 'g'))"""
    val chained = LmOps.FixedMerges.foldLeft(spaced) { case (s, (a, b)) =>
      (1 to BpeFixpointPasses).foldLeft(s)((acc, _) =>
        s"replace($acc, ' $a $b ', ' $a$b ')")
    }
    s"len(list_filter(string_split(trim($chained), ' '), x -> x != ''))"
  }

  def entries: Map[String, QueryDef] = Map(

    // Unigram surprisal quality score: vocab = top-16 tokens (count
    // desc, token asc), in-vocab surprisal = bitLen(N div c), OOV takes
    // the count-1 worst case bitLen(N); low_quality flags empty docs and
    // mean surprisal > 8.5 bits/token (integer cross-multiplied).
    "q127_surprisal_quality" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS t FROM documents),
         |pd AS (SELECT doc_id, t, count(*) AS k FROM tok GROUP BY doc_id, t),
         |cnt AS (SELECT t, CAST(sum(k) AS BIGINT) AS c FROM pd GROUP BY t),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cnt),
         |voc AS (SELECT t, c FROM cnt ORDER BY c DESC, t ASC LIMIT 16),
         |sb AS (SELECT t, CAST(length(bin(n // c)) - 1 AS BIGINT) AS s
         |       FROM voc, tot),
         |ds AS (SELECT pd.doc_id, CAST(sum(pd.k) AS BIGINT) AS n_tokens,
         |         CAST(sum(pd.k * coalesce(sb.s,
         |           (SELECT length(bin(n)) - 1 FROM tot))) AS BIGINT)
         |           AS total_surprisal
         |       FROM pd LEFT JOIN sb USING (t) GROUP BY pd.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(ds.total_surprisal, 0) AS BIGINT)
         |         AS total_surprisal,
         |       (coalesce(ds.n_tokens, 0) = 0 OR
         |        coalesce(ds.total_surprisal, 0) * 1000 >
         |          8500 * coalesce(ds.n_tokens, 0)) AS low_quality
         |FROM documents d LEFT JOIN ds USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      LmOps.surprisalScores(Tables(s, dir).documents,
        vocabSize = 16, threshMilli = 8500L)
        .orderBy(col("doc_id"))
    },

    // Bigram surprisal with unigram backoff — the next LM order up from
    // q127: top-64 bigrams score the conditional bitLen(c1_prev div c2),
    // everything else backs off to the top-16 unigram bucket plus a
    // 1-bit penalty (OOV worst case bitLen(N)+1). Mean bigram surprisal
    // above 9.0 bits flags the doc.
    "q133_bigram_surprisal" -> QueryDef(
      s"""WITH g2r AS (SELECT doc_id, unnest($Grams2Sql) AS g FROM documents),
         |pd2 AS (SELECT doc_id, g, count(*) AS k FROM g2r
         |        WHERE len(list_filter(string_split(g, ' '), x -> x != '')) = 2
         |        GROUP BY doc_id, g),
         |c2 AS (SELECT g, CAST(sum(k) AS BIGINT) AS c2 FROM pd2 GROUP BY g),
         |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM
         |         (SELECT unnest($ToksSql) AS t FROM documents) GROUP BY t),
         |big AS (SELECT g, CAST(length(bin(c1 // c2)) - 1 AS BIGINT) AS sb
         |        FROM (SELECT c2.g, c2.c2, c1.c1 FROM c2
         |              JOIN c1 ON string_split(c2.g, ' ')[1] = c1.t
         |              ORDER BY c2.c2 DESC, c2.g ASC LIMIT 64)),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM c1),
         |uni AS (SELECT t, CAST(length(bin(n // c1)) AS BIGINT) AS usb
         |        FROM (SELECT t, c1 FROM c1
         |              ORDER BY c1 DESC, t ASC LIMIT 16) u, tot),
         |ds AS (SELECT pd2.doc_id, CAST(sum(k) AS BIGINT) AS nb,
         |          CAST(sum(k * coalesce(big.sb, uni.usb,
         |            (SELECT CAST(length(bin(n)) AS BIGINT) FROM tot)))
         |            AS BIGINT) AS ts2
         |       FROM pd2 LEFT JOIN big USING (g)
         |            LEFT JOIN uni ON string_split(pd2.g, ' ')[2] = uni.t
         |       GROUP BY pd2.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(ds.nb, 0) AS BIGINT) AS n_bigrams,
         |       CAST(coalesce(ds.ts2, 0) AS BIGINT) AS total_surprisal,
         |       (coalesce(ds.nb, 0) = 0 OR
         |        coalesce(ds.ts2, 0) * 1000 > 9000 * coalesce(ds.nb, 0))
         |         AS low_quality
         |FROM documents d LEFT JOIN ds USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      LmOps.bigramSurprisalScores(Tables(s, dir).documents,
        bigramVocab = 64, unigramVocab = 16, threshMilli = 9000L)
        .orderBy(col("doc_id"))
    },

    // Kneser–Ney smoothed bigram model (d = 3/4, interpolated form) —
    // the CCNet-family smoothing, as EXACT integer rationals:
    // p(w|v) = [(4·c(vw)−3)·N + 3·N1+(v·)·N1+(·w)] / (4·c(v·)·N),
    // reported as p_milli. c(v·) is the bigram context total, so the
    // model sums to exactly 1 over the vocabulary (the normalization
    // law pinned in LmOpsSpec with BigInt rationals). One corpus
    // shuffle to the bigram counts; everything after is vocab-sized.
    "q200_kn_bigram_model" -> QueryDef(
      s"""WITH g2 AS (SELECT unnest($Grams2Sql) AS g FROM documents),
         |p AS (SELECT string_split(g, ' ')[1] AS prev,
         |        string_split(g, ' ')[2] AS cur FROM g2
         |      WHERE len(list_filter(string_split(g, ' '), x -> x != '')) = 2),
         |c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
         |       FROM p GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS cv,
         |          CAST(count(*) AS BIGINT) AS nv FROM c2 GROUP BY prev),
         |cont AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1w
         |         FROM c2 GROUP BY cur),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS bign FROM c2),
         |top AS (SELECT prev, cur, c2 FROM c2
         |        ORDER BY c2 DESC, prev ASC, cur ASC LIMIT 64),
         |nd AS (SELECT t.prev, t.cur, t.c2, ctx.cv, ctx.nv, cont.n1w,
         |         nn.bign,
         |         (4 * CAST(t.c2 AS HUGEINT) - 3) * nn.bign
         |           + 3 * CAST(ctx.nv AS HUGEINT) * cont.n1w AS num,
         |         4 * CAST(ctx.cv AS HUGEINT) * nn.bign AS den
         |       FROM top t JOIN ctx USING (prev) JOIN cont USING (cur)
         |       CROSS JOIN nn)
         |SELECT prev, cur, c2, cv, nv, n1w, bign,
         |  CAST((num * 1000) // den AS BIGINT) AS p_milli,
         |  CAST(length(bin(CAST(den // num AS BIGINT))) - 1 AS BIGINT) AS sb
         |FROM nd ORDER BY prev, cur""".stripMargin) { (s, dir) =>
      LmOps.knBigramModel(Tables(s, dir).documents, topK = 64)
        .orderBy(col("prev"), col("cur"))
    },

    // Per-document mean KN surprisal — the quality filter the q200
    // model feeds (the q133 shape under KN probabilities): in-model
    // bigrams score their sb bucket, out-of-model ones the fixed
    // bitLen(N) + 2, and a doc flags low-quality when the MEAN bucket
    // exceeds 10.2 bits per bigram (the corpus-tuned knob: 332/168
    // split at sf0.01 — the q128 acceptance-knob convention) or when
    // it has no bigram positions at all (no signal → flag, the q127/
    // q133 stance).
    "q201_kn_surprisal" -> QueryDef(
      s"""WITH g2r AS (SELECT doc_id, unnest($Grams2Sql) AS g FROM documents),
         |pd2 AS (SELECT doc_id, string_split(g, ' ')[1] AS prev,
         |          string_split(g, ' ')[2] AS cur, count(*) AS k
         |        FROM g2r
         |        WHERE len(list_filter(string_split(g, ' '), x -> x != '')) = 2
         |        GROUP BY 1, 2, 3),
         |c2 AS (SELECT prev, cur, CAST(sum(k) AS BIGINT) AS c2
         |       FROM pd2 GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS cv,
         |          CAST(count(*) AS BIGINT) AS nv FROM c2 GROUP BY prev),
         |cont AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1w
         |         FROM c2 GROUP BY cur),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS bign FROM c2),
         |top AS (SELECT prev, cur, c2 FROM c2
         |        ORDER BY c2 DESC, prev ASC, cur ASC LIMIT 64),
         |knb AS (SELECT t.prev, t.cur,
         |          CAST(length(bin(CAST(
         |            (4 * CAST(ctx.cv AS HUGEINT) * nn.bign)
         |            // ((4 * CAST(t.c2 AS HUGEINT) - 3) * nn.bign
         |               + 3 * CAST(ctx.nv AS HUGEINT) * cont.n1w)
         |          AS BIGINT))) - 1 AS BIGINT) AS sb
         |        FROM top t JOIN ctx USING (prev) JOIN cont USING (cur)
         |        CROSS JOIN nn),
         |oov AS (SELECT CAST(length(bin(bign)) - 1 + 2 AS BIGINT) AS ob
         |        FROM nn),
         |ds AS (SELECT pd2.doc_id, CAST(sum(k) AS BIGINT) AS nb,
         |          CAST(sum(k * coalesce(knb.sb, oov.ob)) AS BIGINT) AS ts
         |       FROM pd2 LEFT JOIN knb USING (prev, cur) CROSS JOIN oov
         |       GROUP BY pd2.doc_id)
         |SELECT d.doc_id, CAST(coalesce(ds.nb, 0) AS BIGINT) AS n_bigrams,
         |       CAST(coalesce(ds.ts, 0) AS BIGINT) AS total_surprisal,
         |       (coalesce(ds.nb, 0) = 0 OR
         |        coalesce(ds.ts, 0) * 1000 > 10200 * coalesce(ds.nb, 0))
         |         AS low_quality
         |FROM documents d LEFT JOIN ds USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      LmOps.knSurprisalScores(Tables(s, dir).documents, topK = 64,
        threshMilli = 10200L)
        .orderBy(col("doc_id"))
    },

    // DSIR-style importance weights: word-2-grams hashed into the fixed
    // 10k FNV bucket space, target domain = source 'src0', bucket weight
    // = bitLen(t+1) − bitLen(r+1) + bitLen(R div T), doc weight = sum
    // over gram occurrences, keep = weight above the corpus-tuned
    // acceptance knob (30).
    "q128_importance_weights" -> QueryDef(
      s"""WITH gr AS (SELECT doc_id, source, unnest($Grams2Sql) AS g
         |            FROM documents),
         |gb AS (SELECT doc_id, source, ${fnvBucketSql("g")} AS bucket
         |       FROM gr),
         |raw AS (SELECT bucket, count(*) AS r FROM gb GROUP BY bucket),
         |tgt AS (SELECT bucket, count(*) AS t FROM gb
         |        WHERE source = 'src0' GROUP BY bucket),
         |tots AS (SELECT (SELECT CAST(sum(r) AS BIGINT) FROM raw) AS rt,
         |                greatest(coalesce(
         |                  (SELECT CAST(sum(t) AS BIGINT) FROM tgt), 0), 1) AS tt),
         |w AS (SELECT raw.bucket,
         |        CAST((length(bin(coalesce(tgt.t, 0) + 1)) - 1) -
         |             (length(bin(raw.r + 1)) - 1) +
         |             (length(bin(rt // tt)) - 1) AS BIGINT) AS w
         |      FROM raw LEFT JOIN tgt USING (bucket), tots)
         |SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       CAST(sum(w.w) AS BIGINT) AS weight_sum,
         |       (sum(w.w) > 30) AS keep
         |FROM gb JOIN w USING (bucket)
         |GROUP BY gb.doc_id ORDER BY gb.doc_id""".stripMargin) { (s, dir) =>
      LmOps.importanceWeights(Tables(s, dir).documents,
        targetPred = col("source") === "src0", keepThreshold = 30L)
        .orderBy(col("doc_id"))
    },

    // Hashed-feature Naive Bayes TRAIN (the fastText-shape quality
    // classifier real pipelines deploy; the natural consumer of q128's
    // DSIR features): per-bucket class-conditional counts over the
    // fixed 10k hashed-2-gram space and the integer-exact NB weight
    // bitLen(c_pos+1) − bitLen(c_neg+1) + bitLen(Tneg) − bitLen(Tpos).
    // The result IS the model — ≤ 10k rows at any corpus size.
    "q182_nb_train" -> QueryDef(
      s"""WITH gr AS (SELECT doc_id, source, unnest($Grams2Sql) AS g
         |            FROM documents),
         |gb AS (SELECT doc_id, source = 'src0' AS is_pos,
         |              ${fnvBucketSql("g")} AS bucket FROM gr),
         |cnt AS (SELECT bucket,
         |          CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END)
         |            AS BIGINT) AS c_pos,
         |          CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END)
         |            AS BIGINT) AS c_neg
         |        FROM gb GROUP BY bucket),
         |tots AS (SELECT greatest(sum(c_pos), 1) AS tp,
         |                greatest(sum(c_neg), 1) AS tn FROM cnt)
         |SELECT bucket, c_pos, c_neg,
         |       CAST((length(bin(c_pos + 1)) - 1) -
         |            (length(bin(c_neg + 1)) - 1) +
         |            (length(bin(tn)) - 1) -
         |            (length(bin(tp)) - 1) AS BIGINT) AS w
         |FROM cnt, tots
         |ORDER BY bucket""".stripMargin) { (s, dir) =>
      LmOps.nbTrainTable(Tables(s, dir).documents,
        posPred = col("source") === "src0")
        .orderBy(col("bucket"))
    },

    // Naive Bayes APPLY: every document scored under the trained
    // weights — broadcast weight table + one narrow pass; score =
    // prior + Σ matched-bucket weights, keep = score > 0. The
    // streaming-admission twin (NbGateExpr, weights as expression
    // state) is batch-parity-lawed in LmOpsSpec + soaked in
    // StreamingSpec. Retrains deliberately (the q132 rule): the bench
    // number prices train + apply.
    "q183_nb_score" -> QueryDef(
      s"""WITH gr AS (SELECT doc_id, source, unnest($Grams2Sql) AS g
         |            FROM documents),
         |gb AS (SELECT doc_id, source = 'src0' AS is_pos,
         |              ${fnvBucketSql("g")} AS bucket FROM gr),
         |cnt AS (SELECT bucket,
         |          CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END)
         |            AS BIGINT) AS c_pos,
         |          CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END)
         |            AS BIGINT) AS c_neg
         |        FROM gb GROUP BY bucket),
         |tots AS (SELECT greatest(sum(c_pos), 1) AS tp,
         |                greatest(sum(c_neg), 1) AS tn FROM cnt),
         |w AS (SELECT bucket,
         |        CAST((length(bin(c_pos + 1)) - 1) -
         |             (length(bin(c_neg + 1)) - 1) +
         |             (length(bin(tn)) - 1) -
         |             (length(bin(tp)) - 1) AS BIGINT) AS w
         |      FROM cnt, tots),
         |pri AS (SELECT CAST(
         |          (length(bin(greatest(sum(CASE WHEN source = 'src0'
         |             THEN 1 ELSE 0 END), 1))) - 1) -
         |          (length(bin(greatest(sum(CASE WHEN source <> 'src0'
         |             THEN 1 ELSE 0 END), 1))) - 1) AS BIGINT) AS pw
         |        FROM documents)
         |SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_feats,
         |       CAST(sum(w.w) + any_value(pri.pw) AS BIGINT) AS score,
         |       (sum(w.w) + any_value(pri.pw) > 0) AS keep
         |FROM gb JOIN w USING (bucket) CROSS JOIN pri
         |GROUP BY gb.doc_id
         |ORDER BY gb.doc_id""".stripMargin) { (s, dir) =>
      LmOps.nbScore(Tables(s, dir).documents,
        posPred = col("source") === "src0", threshold = 0L)
        .orderBy(col("doc_id"))
    },

    // Distributed BPE training vs the sequential witness fixture: the
    // Spark side trains over the word histogram with the BATCHED
    // incremental trainer (speculative multi-merge jobs, exact per-level
    // delta validation — LmOps.bpeTrainFast); the oracle reads the
    // independently-derived witness merge table — hash equality proves
    // the two implementations learned the identical merge sequence.
    "q129_bpe_train" -> QueryDef(
      s"""SELECT CAST(rank AS BIGINT) AS rank, a, b, merged,
         |       CAST(pair_count AS BIGINT) AS pair_count
         |FROM read_parquet('$BpeFixtureToken/merges/*.parquet')
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      ensureBpeFixture(s, dir)
      val merges = LmOps.bpeTrainFast(
        LmOps.wordHistogram(Tables(s, dir).documents), LmQueries.BpeMaxMerges)._1
      LmOps.mergesToDf(s, merges).orderBy(col("rank"))
    },

    // The full tokenizer ROUNDTRIP: train distributed, apply the learned
    // table via the native scan kernel, report per-doc subword counts —
    // oracled against the witness fixture where BOTH stages are
    // independently derived (sequential textbook train + index-scan
    // apply). A hash match proves the end-to-end pipeline, not just each
    // stage: identical merges AND identical tokenization arithmetic.
    // DELIBERATELY retrains rather than memoizing q129's merges
    // (bpeFixtureDirs-style): the roundtrip's benchmark number must
    // price the train stage, or a bench pass would report an apply-only
    // cost as the pipeline's.
    "q132_bpe_roundtrip" -> QueryDef(
      s"""SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
         |       CAST(n_subwords AS BIGINT) AS n_subwords
         |FROM read_parquet('$BpeFixtureToken/apply/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureBpeFixture(s, dir)
      val merges = LmOps.bpeTrainFast(
        LmOps.wordHistogram(Tables(s, dir).documents), LmQueries.BpeMaxMerges)._1
      LmOps.bpeApplyReport(Tables(s, dir).documents,
        merges = merges.map(m => (m.a, m.b)))
        .orderBy(col("doc_id"))
    },

    // Contrastive LM quality (the CCNet pair): one unigram surprisal
    // model on the target slice (source='src0'), one on the rest;
    // score = difference of total surprisals under the two models,
    // keep = target-like docs (contrast <= -1.7 bits/token, the
    // corpus-tuned split point: the shared vocabulary makes most docs
    // mildly target-like, so the knob sits at the observed median). Same
    // bitLen-bucket arithmetic as q127, doubled — engine-exact.
    "q134_lm_contrast" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, source = 'src0' AS it,
         |               unnest($ToksSql) AS t FROM documents),
         |pd AS (SELECT doc_id, it, t, count(*) AS k FROM tok
         |       GROUP BY doc_id, it, t),
         |cnt AS (SELECT t,
         |          CAST(sum(CASE WHEN it THEN k ELSE 0 END) AS BIGINT) AS ct,
         |          CAST(sum(CASE WHEN it THEN 0 ELSE k END) AS BIGINT) AS cb
         |        FROM pd GROUP BY t),
         |nt AS (SELECT greatest(coalesce(sum(ct), 0), 1) AS n FROM cnt),
         |nb AS (SELECT greatest(coalesce(sum(cb), 0), 1) AS n FROM cnt),
         |voct AS (SELECT t, CAST(length(bin(n // ct)) - 1 AS BIGINT) AS sbt
         |         FROM (SELECT t, ct FROM cnt WHERE ct > 0
         |               ORDER BY ct DESC, t ASC LIMIT 16), nt),
         |vocb AS (SELECT t, CAST(length(bin(n // cb)) - 1 AS BIGINT) AS sbb
         |         FROM (SELECT t, cb FROM cnt WHERE cb > 0
         |               ORDER BY cb DESC, t ASC LIMIT 16), nb),
         |ds AS (SELECT pd.doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
         |         CAST(sum(k * (
         |           coalesce(voct.sbt, (SELECT length(bin(n)) - 1 FROM nt)) -
         |           coalesce(vocb.sbb, (SELECT length(bin(n)) - 1 FROM nb))))
         |           AS BIGINT) AS contrast
         |       FROM pd LEFT JOIN voct USING (t) LEFT JOIN vocb USING (t)
         |       GROUP BY pd.doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(ds.n_tokens, 0) AS BIGINT) AS n_tokens,
         |       CAST(coalesce(ds.contrast, 0) AS BIGINT) AS contrast,
         |       (coalesce(ds.n_tokens, 0) > 0 AND
         |        coalesce(ds.contrast, 0) * 1000 <=
         |          -1700 * coalesce(ds.n_tokens, 0)) AS keep
         |FROM documents d LEFT JOIN ds USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      LmOps.contrastScores(Tables(s, dir).documents,
        targetPred = col("source") === "src0", vocabSize = 16,
        threshMilli = -1700L)
        .orderBy(col("doc_id"))
    },

    // Tokenizer fertility rollup under the FIXED merge table: per
    // (lang, source), subwords-per-word and chars-per-subword in exact
    // integer permille — the fleet-health report a tokenizer owner
    // watches (fertility spikes flag domains the vocab serves badly).
    // Only docs with at least one token contribute (explode/unnest drop
    // empties in both engines).
    "q135_tokenizer_fertility" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, lang, source, unnest($ToksSql) AS w
         |             FROM documents),
         |sub AS (SELECT doc_id, lang, source, length(w) AS chars,
         |               $BpeApplySql AS ns FROM tok),
         |agg AS (SELECT lang, source,
         |          CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |          CAST(count(*) AS BIGINT) AS n_words,
         |          CAST(sum(ns) AS BIGINT) AS n_subwords,
         |          CAST(sum(chars) AS BIGINT) AS n_chars
         |        FROM sub GROUP BY lang, source)
         |SELECT lang, source, n_docs, n_words, n_subwords,
         |       CAST(n_subwords * 1000 // n_words AS BIGINT)
         |         AS fertility_permille,
         |       CAST(n_chars * 1000 // n_subwords AS BIGINT)
         |         AS chars_per_subword_permille
         |FROM agg ORDER BY lang, source""".stripMargin) { (s, dir) =>
      assertOracleWordLen(s, dir)
      import graft.functions.TextFunctions
      Tables(s, dir).documents
        .select(col("doc_id"), col("lang"), col("source"),
          explode(TextFunctions.tokens(col("text"))).as("w"))
        .select(col("doc_id"), col("lang"), col("source"),
          length(col("w")).as("chars"),
          graft.functions.BpeApplyExpr.of(col("w"), LmOps.FixedMerges).as("ns"))
        .groupBy(col("lang"), col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_words"),
          sum(col("ns")).cast("long").as("n_subwords"),
          sum(col("chars")).cast("long").as("n_chars"))
        .select(col("lang"), col("source"), col("n_docs"), col("n_words"),
          col("n_subwords"),
          expr("CAST(n_subwords * 1000 DIV n_words AS BIGINT)")
            .as("fertility_permille"),
          expr("CAST(n_chars * 1000 DIV n_subwords AS BIGINT)")
            .as("chars_per_subword_permille"))
        .orderBy(col("lang"), col("source"))
    },

    // The tokenize-to-ids stage end-to-end: train distributed (batched
    // incremental trainer), derive the vocabulary (sorted alphabet +
    // merged symbols by rank), encode every document to its ordered id
    // sequence, emit (n_ids, checksum). Oracled against the witness
    // fixture where EVERY stage is independently derived (sequential
    // train, codePointChars alphabet, index-scan apply, driver fold) —
    // a hash match proves identical merges, identical vocabulary ids,
    // and identical id sequences position by position.
    "q136_bpe_encode" -> QueryDef(
      s"""SELECT doc_id, CAST(n_ids AS BIGINT) AS n_ids,
         |       CAST(checksum AS BIGINT) AS checksum
         |FROM read_parquet('$BpeFixtureToken/encode/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureBpeFixture(s, dir)
      val (merges, vocab) = withHistogram(s, dir) { hist =>
        val merges = LmOps.bpeTrainFast(hist, LmQueries.BpeMaxMerges)._1
        (merges, LmOps.bpeVocabIds(LmOps.bpeAlphabet(hist), merges))
      }
      LmOps.bpeEncodeReport(Tables(s, dir).documents,
        merges.map(m => (m.a, m.b)), vocab)
        .orderBy(col("doc_id"))
    },

    // Unigram-LM (SentencePiece-style) tokenizer training: integer-exact
    // hard EM over the word histogram (seed candidate counts → EM
    // recounts under Viterbi segmentation → prune → final recount),
    // all E-steps distributed one-job each. Oracled against the
    // sequential witness fixture (independent candidate counting,
    // memoized-recursion Viterbi, plain-map EM) — hash equality proves
    // the two implementations learned the identical piece table:
    // pieces, counts, costs, and id layout.
    "q137_unigram_train" -> QueryDef(
      s"""SELECT CAST(piece_id AS BIGINT) AS piece_id, piece,
         |       CAST(piece_count AS BIGINT) AS piece_count,
         |       CAST(cost AS BIGINT) AS cost
         |FROM read_parquet('$BpeFixtureToken/unigram_vocab/*.parquet')
         |ORDER BY piece_id""".stripMargin) { (s, dir) =>
      ensureUnigramFixture(s, dir)
      val (pieces, _) =
        withHistogram(s, dir)(graft.operators.UnigramLm.train(_))
      graft.operators.UnigramLm.piecesToDf(s, pieces)
        .orderBy(col("piece_id"))
    },

    // The unigram tokenize-to-ids stage end-to-end: train distributed,
    // Viterbi-segment every document token under the trained costs, map
    // pieces to vocabulary ids, fold the ordered id sequence into
    // (n_pieces, checksum) — the q136 shape for the OTHER tokenizer
    // family. Oracled against the witness fixture where every stage is
    // independently derived; a hash match proves identical vocabulary,
    // identical segmentations (every piece boundary), and identical ids
    // position by position. Retrains deliberately (the q132 rule): the
    // bench number must price the train stage.
    "q138_unigram_encode" -> QueryDef(
      s"""SELECT doc_id, CAST(n_pieces AS BIGINT) AS n_pieces,
         |       CAST(checksum AS BIGINT) AS checksum
         |FROM read_parquet('$BpeFixtureToken/unigram_encode/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureUnigramFixture(s, dir)
      val (pieces, _) =
        withHistogram(s, dir)(graft.operators.UnigramLm.train(_))
      graft.operators.UnigramLm.encodeReport(Tables(s, dir).documents, pieces)
        .orderBy(col("doc_id"))
    },

    // WordPiece vocabulary derivation (the BERT tokenizer family —
    // completing the engine's trio next to BPE and unigram-LM): flat
    // vocabulary with ##-prefixed continuation pieces, protected
    // single-code-point pieces in both roles, capped multi-cp pieces.
    // Oracled against the independent nested-loop witness derivation.
    "q142_wordpiece_vocab" -> QueryDef(
      s"""SELECT CAST(piece_id AS BIGINT) AS piece_id, piece,
         |       CAST(piece_count AS BIGINT) AS piece_count
         |FROM read_parquet('$BpeFixtureToken/wordpiece_vocab/*.parquet')
         |ORDER BY piece_id""".stripMargin) { (s, dir) =>
      ensureWordPieceFixture(s, dir)
      val hist = LmOps.wordHistogram(Tables(s, dir).documents)
      graft.operators.WordPiece.vocabToDf(s,
        graft.operators.WordPiece.deriveVocab(hist))
        .orderBy(col("piece_id"))
    },

    // WordPiece encode-to-ids: derive the vocabulary distributed, then
    // greedy longest-match every document token (whole-word UNK on a
    // dead end, contributing 0 to the checksum loudly) — one narrow
    // per-row pass. Oracled against the witness fixture where both the
    // vocabulary and every greedy segmentation are independently
    // derived; a hash match pins the piece inventory, the match
    // lengths, the UNK set, and every id position by position.
    "q143_wordpiece_encode" -> QueryDef(
      s"""SELECT doc_id, CAST(n_pieces AS BIGINT) AS n_pieces,
         |       CAST(n_unk AS BIGINT) AS n_unk,
         |       CAST(checksum AS BIGINT) AS checksum
         |FROM read_parquet('$BpeFixtureToken/wordpiece_encode/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureWordPieceFixture(s, dir)
      val hist = LmOps.wordHistogram(Tables(s, dir).documents)
      val vocab = graft.operators.WordPiece.deriveVocab(hist)
      graft.operators.WordPiece.encodeReport(Tables(s, dir).documents, vocab)
        .orderBy(col("doc_id"))
    },

    // WordPiece vocabulary derived FROM the TRAINED unigram tokenizer
    // (the BERT pipeline's actual derivation order): train the subword
    // inventory first, segment the word histogram under it, and count
    // each piece occurrence as its positional form (as-is at word
    // start, ##-prefixed continuation) — so the vocabulary reflects how
    // pieces are USED, not how often their substrings merely occur
    // (q142's shortcut). No cap stage: forms are bounded by 2× the
    // trained vocab + alphabet. Oracled against the witness fixture
    // where the training (sequential hard-EM), every segmentation
    // (memoized-recursion Viterbi), and the form counting (driver maps)
    // are all independently derived.
    "q146_wordpiece_from_trained" -> QueryDef(
      s"""SELECT CAST(piece_id AS BIGINT) AS piece_id, piece,
         |       CAST(piece_count AS BIGINT) AS piece_count
         |FROM read_parquet('$BpeFixtureToken/wp_from_trained/*.parquet')
         |ORDER BY piece_id""".stripMargin) { (s, dir) =>
      ensureUnigramFixture(s, dir)
      val vocab = withHistogram(s, dir) { hist =>
        graft.operators.WordPiece.fromTrained(hist,
          graft.operators.UnigramLm.train(hist)._1)
      }
      graft.operators.WordPiece.vocabToDf(s, vocab)
        .orderBy(col("piece_id"))
    },

    // Encode-to-ids under the FROM-TRAINED WordPiece vocabulary — the
    // q143 shape for q146's derivation, completing the swap path (a
    // user can move from the raw-substring vocabulary to the
    // trained-derived one and run the same encode). The from-trained
    // vocabulary has no protected-singles stage, so whole-word UNK is
    // possible wherever segmentation never visited a code point — the
    // checksum pins the UNK set loudly. Oracled against the witness
    // fixture (witness train, witness derivation, witness matcher).
    "q147_wp_trained_encode" -> QueryDef(
      s"""SELECT doc_id, CAST(n_pieces AS BIGINT) AS n_pieces,
         |       CAST(n_unk AS BIGINT) AS n_unk,
         |       CAST(checksum AS BIGINT) AS checksum
         |FROM read_parquet('$BpeFixtureToken/wp_from_trained_encode/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureUnigramFixture(s, dir)
      val vocab = withHistogram(s, dir) { hist =>
        graft.operators.WordPiece.fromTrained(hist,
          graft.operators.UnigramLm.train(hist)._1)
      }
      graft.operators.WordPiece.encodeReport(Tables(s, dir).documents, vocab)
        .orderBy(col("doc_id"))
    },

    // The WordPiece DERIVATION scorecard: raw-substring (q142) vs
    // from-trained (q146) vocabularies compared per language on the
    // numbers a tokenizer owner decides with — vocab size is global,
    // fertility and UNK-rate per (lang) — the q145-style
    // should-I-switch query for the derivation axis. The engine
    // recomputes BOTH encodes with its own kernels in ONE corpus pass
    // (two WordPieceEncodeExpr side by side, one (lang) aggregation);
    // the oracle reassembles the report from the two independent
    // witness encode fixtures joined to documents.
    "q148_wp_derivation_diff" -> QueryDef(
      s"""WITH raw AS (SELECT d.lang,
         |        CAST(sum(w.n_pieces) AS BIGINT) AS raw_pieces,
         |        CAST(sum(w.n_unk) AS BIGINT) AS raw_unk,
         |        CAST(count(*) AS BIGINT) AS n_docs
         |      FROM read_parquet('$BpeFixtureToken/wordpiece_encode/*.parquet') w
         |      JOIN documents d USING (doc_id) GROUP BY d.lang),
         |tr AS (SELECT d.lang,
         |        CAST(sum(w.n_pieces) AS BIGINT) AS tr_pieces,
         |        CAST(sum(w.n_unk) AS BIGINT) AS tr_unk
         |      FROM read_parquet('$BpeFixtureToken/wp_from_trained_encode/*.parquet') w
         |      JOIN documents d USING (doc_id) GROUP BY d.lang)
         |SELECT raw.lang, raw.n_docs, raw.raw_pieces, tr.tr_pieces,
         |       raw.raw_unk, tr.tr_unk,
         |       CAST(tr.tr_pieces * 1000 // raw.raw_pieces AS BIGINT)
         |         AS pieces_ratio_permille
         |FROM raw JOIN tr USING (lang)
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      ensureUnigramFixture(s, dir)
      ensureWordPieceFixture(s, dir)
      import graft.operators.{UnigramLm, WordPiece}
      val (rawVocab, trVocab) = withHistogram(s, dir) { hist =>
        (WordPiece.deriveVocab(hist),
          WordPiece.fromTrained(hist, UnigramLm.train(hist)._1))
      }
      val rawIds = rawVocab.map(p => p.piece -> p.id).toMap
      val trIds = trVocab.map(p => p.piece -> p.id).toMap
      import graft.functions.TextFunctions
      Tables(s, dir).documents
        .select(col("lang"), TextFunctions.tokens(col("text")).as("ts"))
        .select(col("lang"),
          graft.functions.WordPieceEncodeExpr.of(col("ts"), rawIds).as("r"),
          graft.functions.WordPieceEncodeExpr.of(col("ts"), trIds).as("t"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("r.n_pieces")).as("raw_pieces"),
          sum(col("t.n_pieces")).as("tr_pieces"),
          sum(col("r.n_unk")).as("raw_unk"),
          sum(col("t.n_unk")).as("tr_unk"))
        .select(col("lang"), col("n_docs"), col("raw_pieces"),
          col("tr_pieces"), col("raw_unk"), col("tr_unk"),
          expr("CAST(tr_pieces * 1000 DIV raw_pieces AS BIGINT)")
            .as("pieces_ratio_permille"))
        .orderBy(col("lang"))
    },

    // The tokenizer SCORECARD: the trio compared on one report — per
    // language, fertility (pieces per word, integer permille) under the
    // fixed BPE table, the trained unigram-LM, and the derived
    // WordPiece vocabulary, plus WordPiece's UNK permille — the table a
    // tokenizer owner reads before picking a family for a corpus. The
    // engine recomputes ALL THREE tokenizations with its own kernels in
    // ONE corpus pass (three narrow expressions side by side, one
    // (lang) aggregation); the oracle reassembles the report from the
    // BPE chained-replace construction plus the per-doc unigram and
    // WordPiece WITNESS fixtures joined to the documents table — every
    // number independently derived.
    "q144_tokenizer_scorecard" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, lang, unnest($ToksSql) AS w
         |             FROM documents),
         |sub AS (SELECT doc_id, lang, $BpeApplySql AS ns FROM tok),
         |bpe AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
         |               CAST(sum(ns) AS BIGINT) AS bpe_pieces
         |        FROM sub GROUP BY lang),
         |uni AS (SELECT d.lang, CAST(sum(u.n_pieces) AS BIGINT) AS uni_pieces
         |        FROM read_parquet('$BpeFixtureToken/unigram_encode/*.parquet') u
         |        JOIN documents d USING (doc_id) GROUP BY d.lang),
         |wp AS (SELECT d.lang, CAST(sum(w.n_pieces) AS BIGINT) AS wp_pieces,
         |              CAST(sum(w.n_unk) AS BIGINT) AS wp_unk
         |       FROM read_parquet('$BpeFixtureToken/wordpiece_encode/*.parquet') w
         |       JOIN documents d USING (doc_id) GROUP BY d.lang)
         |SELECT bpe.lang, bpe.n_words, bpe.bpe_pieces, uni.uni_pieces,
         |       wp.wp_pieces, wp.wp_unk,
         |       CAST(bpe.bpe_pieces * 1000 // bpe.n_words AS BIGINT)
         |         AS bpe_fertility_permille,
         |       CAST(uni.uni_pieces * 1000 // bpe.n_words AS BIGINT)
         |         AS uni_fertility_permille,
         |       CAST(wp.wp_pieces * 1000 // bpe.n_words AS BIGINT)
         |         AS wp_fertility_permille,
         |       CAST(wp.wp_unk * 1000 // wp.wp_pieces AS BIGINT)
         |         AS wp_unk_permille
         |FROM bpe JOIN uni USING (lang) JOIN wp USING (lang)
         |ORDER BY lang""".stripMargin) { (s, dir) =>
      assertOracleWordLen(s, dir)
      ensureUnigramFixture(s, dir)
      ensureWordPieceFixture(s, dir)
      import graft.functions.TextFunctions
      import graft.operators.{UnigramLm, WordPiece}
      val (uniPieces, wpVocab) = withHistogram(s, dir) { hist =>
        (UnigramLm.train(hist)._1, WordPiece.deriveVocab(hist))
      }
      val uniCounts = uniPieces.map(p => p.piece -> p.count).toMap
      val uniN = math.max(1L, uniCounts.valuesIterator.sum)
      val uniCosts = uniCounts.map { case (p, c) =>
        p -> graft.functions.UnigramViterbi.cost(uniN, c) }.toSeq
      val uniUnk = graft.functions.UnigramViterbi.unknownCost(uniN)
      val uniIds = uniPieces.map(p => p.piece -> p.id).toMap
      val wpIds = wpVocab.map(p => p.piece -> p.id).toMap
      // ONE corpus pass: all three tokenizers as side-by-side
      // expressions over the same token array, then one (lang) agg
      Tables(s, dir).documents
        .select(col("lang"), TextFunctions.tokens(col("text")).as("ts"))
        // materialize the wordpiece struct ONCE so both fields read the
        // same evaluation (not two full greedy matches per doc)
        .select(col("lang"), col("ts"),
          graft.functions.WordPieceEncodeExpr.of(col("ts"), wpIds).as("wpe"))
        .select(col("lang"), size(col("ts")).cast("long").as("nw"),
          aggregate(transform(col("ts"),
            w => graft.functions.BpeApplyExpr.of(w, LmOps.FixedMerges)
              .cast("long")), lit(0L), (a, x) => a + x).as("bp"),
          graft.functions.UnigramEncodeExpr.of(col("ts"), uniCosts,
            uniUnk, uniIds).getField("n_pieces").as("up"),
          col("wpe.n_pieces").as("wp"), col("wpe.n_unk").as("wu"))
        .groupBy(col("lang"))
        .agg(sum(col("nw")).as("n_words"), sum(col("bp")).as("bpe_pieces"),
          sum(col("up")).as("uni_pieces"), sum(col("wp")).as("wp_pieces"),
          sum(col("wu")).as("wp_unk"))
        .select(col("lang"), col("n_words"), col("bpe_pieces"),
          col("uni_pieces"), col("wp_pieces"), col("wp_unk"),
          expr("CAST(bpe_pieces * 1000 DIV n_words AS BIGINT)")
            .as("bpe_fertility_permille"),
          expr("CAST(uni_pieces * 1000 DIV n_words AS BIGINT)")
            .as("uni_fertility_permille"),
          expr("CAST(wp_pieces * 1000 DIV n_words AS BIGINT)")
            .as("wp_fertility_permille"),
          expr("CAST(wp_unk * 1000 DIV wp_pieces AS BIGINT)")
            .as("wp_unk_permille"))
        .orderBy(col("lang"))
    },

    // Sequence packing under the PRODUCTION tokenizer: the q68 packing
    // shape (chunked concat-and-chop, 100-doc chunks) re-priced with
    // REAL subword counts — the fixed BPE merge table's per-doc symbol
    // count (the q130 arithmetic), not whitespace tokens. This is what
    // a training pipeline actually packs by: whitespace counts
    // under-estimate sequence budget wherever fertility > 1, and the
    // pack boundaries move. Fully DuckDB-recomputable (the q130
    // chained-replace construction feeding the q68 window cumsum).
    "q141_pack_tokenized" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS w FROM documents),
         |sub AS (SELECT doc_id, $BpeApplySql AS ns FROM tok),
         |agg AS (SELECT doc_id, CAST(sum(ns) AS BIGINT) AS sw
         |        FROM sub GROUP BY doc_id),
         |d AS (SELECT d.doc_id,
         |        CAST(least(coalesce(agg.sw, 0), 1024) AS BIGINT) AS toks,
         |        d.doc_id // 100 AS chunk
         |      FROM documents d LEFT JOIN agg USING (doc_id)),
         |c AS (SELECT doc_id, chunk, toks,
         |        CAST(sum(toks) OVER (PARTITION BY chunk ORDER BY doc_id
         |             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         |      FROM d)
         |SELECT doc_id, chunk,
         |       chunk * 1000000 + ((cum - toks) // 1024) AS pack_id,
         |       toks, cum
         |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
      assertOracleWordLen(s, dir)
      val counted = LmOps.bpeApplyReport(Tables(s, dir).documents)
        .select(col("doc_id"), col("n_subwords").as("n_tokens"))
      graft.operators.CorpusOps.packChunked(counted, capacity = 1024L,
        chunkSize = 100L)
        .orderBy(col("doc_id"))
    },

    // Tokenizer UPGRADE DIFF — the cache-invalidation question a
    // pre-tokenized 100 TB corpus asks when the merge table grows:
    // which documents' token streams actually changed? BPE training is
    // incremental, so the old tokenizer is a RANK PREFIX of the new
    // one and a prefix's id layout is a prefix of the full layout —
    // an unchanged tokenization keeps its ordered-id checksum, so
    // checksum inequality flags exactly the changed docs (re-encode
    // those, keep the rest of the corpus copy). Engine: train once,
    // encode twice (two narrow passes), join. Oracle: both encodes
    // independently derived in the witness fixture.
    "q145_tokenizer_upgrade_diff" -> QueryDef(
      s"""WITH old AS (SELECT doc_id, CAST(n_ids AS BIGINT) AS n_ids_old,
         |               CAST(checksum AS BIGINT) AS c_old
         |             FROM read_parquet('$BpeFixtureToken/encode_base/*.parquet')),
         |new AS (SELECT doc_id, CAST(n_ids AS BIGINT) AS n_ids_new,
         |               CAST(checksum AS BIGINT) AS c_new
         |        FROM read_parquet('$BpeFixtureToken/encode/*.parquet'))
         |SELECT doc_id, n_ids_old, n_ids_new,
         |       (c_old <> c_new) AS changed
         |FROM old JOIN new USING (doc_id)
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureBpeFixture(s, dir)
      val (merges, alpha) = withHistogram(s, dir) { hist =>
        (LmOps.bpeTrainFast(hist, LmQueries.BpeMaxMerges)._1,
          LmOps.bpeAlphabet(hist))
      }
      val base = merges.take(UpgradeBaseMerges)
      val docs = Tables(s, dir).documents
      val old = LmOps.bpeEncodeReport(docs, base.map(m => (m.a, m.b)),
        LmOps.bpeVocabIds(alpha, base))
        .select(col("doc_id"), col("n_ids").as("n_ids_old"),
          col("checksum").as("c_old"))
      val nw = LmOps.bpeEncodeReport(docs, merges.map(m => (m.a, m.b)),
        LmOps.bpeVocabIds(alpha, merges))
        .select(col("doc_id"), col("n_ids").as("n_ids_new"),
          col("checksum").as("c_new"))
      old.join(nw, Seq("doc_id"))
        .select(col("doc_id"), col("n_ids_old"), col("n_ids_new"),
          (col("c_old") =!= col("c_new")).as("changed"))
        .orderBy(col("doc_id"))
    },

    // BPE application under the FIXED merge table (rank-order chained
    // rules, several consuming earlier merges): per-doc word count and
    // post-merge symbol count, fully recomputed by DuckDB via the same
    // sentinel-delimited chained-replace construction.
    "q130_bpe_apply" -> QueryDef(
      s"""WITH tok AS (SELECT doc_id, unnest($ToksSql) AS w FROM documents),
         |sub AS (SELECT doc_id, $BpeApplySql AS ns FROM tok),
         |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |               CAST(sum(ns) AS BIGINT) AS n_subwords
         |        FROM sub GROUP BY doc_id)
         |SELECT d.doc_id,
         |       CAST(coalesce(agg.n_words, 0) AS BIGINT) AS n_words,
         |       CAST(coalesce(agg.n_subwords, 0) AS BIGINT) AS n_subwords
         |FROM documents d LEFT JOIN agg USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      assertOracleWordLen(s, dir)
      LmOps.bpeApplyReport(Tables(s, dir).documents)
        .orderBy(col("doc_id"))
    },

    // BYTE-LEVEL BPE training (the GPT-2 family): UTF-8 bytes → the
    // reversible byte↔unicode remap → the engine's existing distributed
    // trainer unchanged over byte symbols. No UNK possible by
    // construction; tokenization reversible. Oracled against the
    // independent sequential witness fixture (the q129 discipline).
    "q180_bytebpe_train" -> QueryDef(
      s"""SELECT CAST(rank AS BIGINT) AS rank, a, b, merged,
         |       CAST(pair_count AS BIGINT) AS pair_count
         |FROM read_parquet('$BpeFixtureToken/byte_merges/*.parquet')
         |ORDER BY rank""".stripMargin) { (s, dir) =>
      ensureByteBpeFixture(s, dir)
      val merges = LmOps.bpeTrainFast(
        LmOps.byteHistogram(LmOps.wordHistogram(Tables(s, dir).documents)),
        ByteBpeMaxMerges)._1
      LmOps.mergesToDf(s, merges).orderBy(col("rank"))
    },

    // Byte-level tokenize-to-ids end-to-end: train distributed, remap
    // every document token to byte symbols, encode under the fixed
    // GPT-2 id layout (ids 0..255 ARE the byte values, merge r at
    // 256 + r − 1), fold the ordered id sequence into (n_ids,
    // checksum). Oracled against the witness fixture where every stage
    // is independently derived — a hash match pins the vocabulary, the
    // segmentations, and every id position (the q136 discipline).
    // Retrains deliberately (the q132 rule): the bench number must
    // price the train stage.
    "q181_bytebpe_encode" -> QueryDef(
      s"""SELECT doc_id, CAST(n_ids AS BIGINT) AS n_ids,
         |       CAST(checksum AS BIGINT) AS checksum
         |FROM read_parquet('$BpeFixtureToken/byte_encode/*.parquet')
         |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      ensureByteBpeFixture(s, dir)
      val merges = LmOps.bpeTrainFast(
        LmOps.byteHistogram(LmOps.wordHistogram(Tables(s, dir).documents)),
        ByteBpeMaxMerges)._1
      LmOps.byteBpeEncodeReport(Tables(s, dir).documents,
        merges.map(m => (m.a, m.b)),
        graft.functions.ByteBpe.vocabIds(merges))
        .orderBy(col("doc_id"))
    },

    // word2vec phrase-table trainer (Mikolov 2013 §4) — the DIRECTED,
    // δ-discounted model the q209 merge pass deploys (q167 is the
    // different operator: undirected association ranking with no
    // discount and no application stage). Each ordered bigram scored
    // (c2 − δ)·N / (c1a·c1b) in exact milli integer arithmetic (δ = 1,
    // minCount = 3), plus the true PMI rounded to its containing power
    // of two as a SIGNED bitLen bucket. Top 50 by (score desc, prev
    // asc, cur asc); result emitted in (prev, cur) order for the hash.
    "q208_pmi_collocations" -> QueryDef(
      s"""WITH g2 AS (SELECT unnest($Grams2Sql) AS g FROM documents),
         |p AS (SELECT string_split(g, ' ')[1] AS prev,
         |        string_split(g, ' ')[2] AS cur FROM g2
         |      WHERE len(list_filter(string_split(g, ' '), x -> x != '')) = 2),
         |c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
         |       FROM p GROUP BY 1, 2),
         |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM
         |         (SELECT unnest($ToksSql) AS t FROM documents) GROUP BY t),
         |tots AS (SELECT (SELECT CAST(sum(c1) AS BIGINT) FROM c1) AS tot,
         |                (SELECT CAST(sum(c2) AS BIGINT) FROM c2) AS n2),
         |sc AS (SELECT c2.prev, c2.cur, c2.c2, a.c1 AS c1a, b.c1 AS c1b,
         |         tots.tot, tots.n2,
         |         CAST(((CAST(c2.c2 AS HUGEINT) - 1) * tots.tot * 1000)
         |           // (CAST(a.c1 AS HUGEINT) * b.c1) AS BIGINT) AS score_milli,
         |         CAST(c2.c2 AS HUGEINT) * tots.tot * tots.tot AS nump,
         |         CAST(tots.n2 AS HUGEINT) * a.c1 * b.c1 AS denp
         |       FROM c2 JOIN c1 a ON c2.prev = a.t JOIN c1 b ON c2.cur = b.t
         |       CROSS JOIN tots WHERE c2.c2 >= 3),
         |top AS (SELECT * FROM sc
         |        ORDER BY score_milli DESC, prev ASC, cur ASC LIMIT 50)
         |SELECT prev, cur, c2, c1a, c1b, tot, n2, score_milli,
         |  CASE WHEN nump >= denp
         |    THEN CAST(length(bin(CAST(nump // denp AS BIGINT))) - 1 AS BIGINT)
         |    ELSE CAST(-(length(bin(CAST(denp // nump AS BIGINT))) - 1) AS BIGINT)
         |  END AS pmi_bit
         |FROM top ORDER BY prev, cur""".stripMargin) { (s, dir) =>
      LmOps.pmiCollocations(Tables(s, dir).documents,
        minCount = 3L, delta = 1L, topN = 50)
        .orderBy(col("prev"), col("cur"))
    },

    // word2vec phrase-merge application: the q208 model's top-20 pairs
    // deployed as a merge table over the corpus (retrained in-query —
    // the q132 rule). Per doc: match count on the ORIGINAL tokens,
    // greedy left-to-right non-overlapping merge count, and the
    // post-merge token count. The oracle computes the greedy count by
    // its closed form — ⌈L/2⌉ per maximal run of consecutive matching
    // positions, via gaps-and-islands — which LmOpsSpec pins against
    // the engine's scan on adversarial overlap chains.
    "q209_phrase_merge" -> QueryDef(
      s"""WITH g2 AS (SELECT unnest($Grams2Sql) AS g FROM documents),
         |p AS (SELECT string_split(g, ' ')[1] AS prev,
         |        string_split(g, ' ')[2] AS cur FROM g2
         |      WHERE len(list_filter(string_split(g, ' '), x -> x != '')) = 2),
         |c2 AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS c2
         |       FROM p GROUP BY 1, 2),
         |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM
         |         (SELECT unnest($ToksSql) AS t FROM documents) GROUP BY t),
         |tots AS (SELECT (SELECT CAST(sum(c1) AS BIGINT) FROM c1) AS tot),
         |sc AS (SELECT c2.prev, c2.cur,
         |         CAST(((CAST(c2.c2 AS HUGEINT) - 1) * tots.tot * 1000)
         |           // (CAST(a.c1 AS HUGEINT) * b.c1) AS BIGINT) AS score_milli
         |       FROM c2 JOIN c1 a ON c2.prev = a.t JOIN c1 b ON c2.cur = b.t
         |       CROSS JOIN tots WHERE c2.c2 >= 3),
         |ph AS (SELECT prev || ' ' || cur AS g FROM sc
         |       ORDER BY score_milli DESC, prev ASC, cur ASC LIMIT 20),
         |dg AS (SELECT doc_id, $Grams2Sql AS grams, len($ToksSql) AS nt
         |       FROM documents),
         |gr AS (SELECT doc_id, unnest(range(len(grams))) AS pos, grams
         |       FROM dg),
         |m AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
         |      FROM (SELECT doc_id, pos, grams[pos+1] AS g FROM gr)
         |      WHERE g IN (SELECT g FROM ph)),
         |runs AS (SELECT doc_id, pos - rn AS island,
         |           CAST(count(*) AS BIGINT) AS len
         |         FROM m GROUP BY doc_id, pos - rn),
         |agg AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_matches,
         |          CAST(sum((len + 1) // 2) AS BIGINT) AS n_merges
         |        FROM runs GROUP BY doc_id)
         |SELECT dg.doc_id, CAST(dg.nt AS BIGINT) AS n_tokens,
         |       CAST(coalesce(agg.n_matches, 0) AS BIGINT) AS n_matches,
         |       CAST(coalesce(agg.n_merges, 0) AS BIGINT) AS n_merges,
         |       CAST(dg.nt - coalesce(agg.n_merges, 0) AS BIGINT) AS n_after
         |FROM dg LEFT JOIN agg USING (doc_id)
         |ORDER BY dg.doc_id""".stripMargin) { (s, dir) =>
      val docs = Tables(s, dir).documents
      val phrases = LmOps.pmiCollocations(docs,
        minCount = 3L, delta = 1L, topN = 20)
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      LmOps.phraseMergeReport(docs, phrases).orderBy(col("doc_id"))
    },

    // Min-K% Prob membership / contamination probe (Shi 2023): per doc
    // the sum of the top ⌈20%·nb⌉ per-position surprisals under the
    // q133 bigram model at the tuned 512/64 vocabulary (retrained
    // in-query — the q132 rule), flagged member when the mean of those
    // worst positions stays at or below 5.0 bits (the measured 209/291
    // splitting knob at sf0.01). The top-k sum is tie-insensitive, so
    // the oracle re-derives it with a cumulative-count clip over grams
    // ordered (surprisal desc, gram asc).
    "q210_mink_membership" -> QueryDef(
      s"""WITH g2r AS (SELECT doc_id, unnest($Grams2Sql) AS g FROM documents),
         |pd2 AS (SELECT doc_id, g, count(*) AS k FROM g2r
         |        WHERE len(list_filter(string_split(g, ' '), x -> x != '')) = 2
         |        GROUP BY doc_id, g),
         |c2 AS (SELECT g, CAST(sum(k) AS BIGINT) AS c2 FROM pd2 GROUP BY g),
         |c1 AS (SELECT t, CAST(count(*) AS BIGINT) AS c1 FROM
         |         (SELECT unnest($ToksSql) AS t FROM documents) GROUP BY t),
         |big AS (SELECT g, CAST(length(bin(c1 // c2)) - 1 AS BIGINT) AS sb
         |        FROM (SELECT c2.g, c2.c2, c1.c1 FROM c2
         |              JOIN c1 ON string_split(c2.g, ' ')[1] = c1.t
         |              ORDER BY c2.c2 DESC, c2.g ASC LIMIT 512)),
         |tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM c1),
         |uni AS (SELECT t, CAST(length(bin(n // c1)) AS BIGINT) AS usb
         |        FROM (SELECT t, c1 FROM c1
         |              ORDER BY c1 DESC, t ASC LIMIT 64) u, tot),
         |scored AS (SELECT pd2.doc_id, pd2.g, pd2.k,
         |    coalesce(big.sb, uni.usb,
         |      (SELECT CAST(length(bin(n)) AS BIGINT) FROM tot)) AS s
         |  FROM pd2 LEFT JOIN big USING (g)
         |       LEFT JOIN uni ON string_split(pd2.g, ' ')[2] = uni.t),
         |nb AS (SELECT doc_id, CAST(sum(k) AS BIGINT) AS nb
         |       FROM pd2 GROUP BY doc_id),
         |kk AS (SELECT doc_id, nb, (200 * nb + 999) // 1000 AS kv FROM nb),
         |cum AS (SELECT doc_id, g, k, s,
         |    sum(k) OVER (PARTITION BY doc_id ORDER BY s DESC, g ASC
         |                 ROWS UNBOUNDED PRECEDING) AS c
         |  FROM scored),
         |mk AS (SELECT cum.doc_id,
         |    CAST(sum(GREATEST(LEAST(cum.k, kk.kv - (cum.c - cum.k)), 0)
         |         * cum.s) AS BIGINT) AS ms
         |  FROM cum JOIN kk USING (doc_id) GROUP BY cum.doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(kk.nb, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(kk.kv, 0) AS BIGINT) AS mink_k,
         |  CAST(coalesce(mk.ms, 0) AS BIGINT) AS mink_sum,
         |  (coalesce(kk.nb, 0) > 0 AND
         |   coalesce(mk.ms, 0) * 1000 <= 5000 * coalesce(kk.kv, 0))
         |    AS member
         |FROM documents d LEFT JOIN kk USING (doc_id)
         |     LEFT JOIN mk USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
      LmOps.minkScores(Tables(s, dir).documents,
        bigramVocab = 512, unigramVocab = 64,
        pctMilli = 200L, threshMilli = 5000L)
        .orderBy(col("doc_id"))
    }
  )
}
