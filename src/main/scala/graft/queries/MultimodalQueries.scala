package graft.queries

import org.apache.spark.sql.functions._

import graft.core.{Materialize, QueryDef, Tables}
import graft.operators.Multimodal

/** Oracle-verified exercise of the multimodal plumbing: the payload is a
  * deterministic 32-byte fake (md5-chain of the text), decoded through the
  * real mapPartitions path; DuckDB re-derives width/height/byteSum from
  * the same hex string with pure SQL nibble arithmetic.
  */
object MultimodalQueries {

  /** Sum of byte values of a 32-byte payload given as a 64-char hex
    * string: Σ (hi-nibble·16 + lo-nibble). */
  private val ByteSumSql =
    """list_sum(list_transform(range(32), i ->
      |  (strpos('0123456789abcdef', substr(h, i*2 + 1, 1)) - 1) * 16 +
      |  (strpos('0123456789abcdef', substr(h, i*2 + 2, 1)) - 1)))""".stripMargin

  private def fnvBucketSql(s: String): String = OracleSql.fnvBucket(s)

  private def nibble(s: String, pos: String) =
    s"(strpos('0123456789abcdef', substr($s, $pos, 1)) - 1)"

  val entries: Map[String, QueryDef] = Map(

    "q37_multimodal_decode" -> QueryDef(
      s"""WITH m AS (
         |  SELECT doc_id AS id,
         |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS mediaType,
         |    length(text) AS sizeBytes,
         |    md5(text) || md5(md5(text)) AS h
         |  FROM documents)
         |SELECT id, mediaType, sizeBytes,
         |  CAST(1 + (${nibble("h", "1")} * 256 + ${nibble("h", "2")} * 16 + ${nibble("h", "3")}) AS BIGINT) AS width,
         |  CAST(1 + (${nibble("h", "5")} * 256 + ${nibble("h", "6")} * 16 + ${nibble("h", "7")}) AS BIGINT) AS height,
         |  CAST($ByteSumSql AS BIGINT) AS byteSum
         |FROM m ORDER BY id""".stripMargin) { (s, dir) =>
      val media = Multimodal.syntheticMediaFrame(Tables(s, dir).documents)
      Multimodal.decodeAndFeaturize(media).toDF()
        .select(col("id"), col("mediaType"), col("sizeBytes"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("byteSum"))
        .orderBy(col("id"))
    },

    // Resize planning over the decoded frame: scale-to-fit a 256 box,
    // never upscale, floor to ints with a 1-pixel floor.
    "q52_multimodal_resize" -> QueryDef(
      s"""WITH m AS (
         |  SELECT doc_id AS id, md5(text) || md5(md5(text)) AS h
         |  FROM documents),
         |d AS (
         |  SELECT id,
         |    CAST(1 + (${nibble("h", "1")} * 256 + ${nibble("h", "2")} * 16 + ${nibble("h", "3")}) AS BIGINT) AS width,
         |    CAST(1 + (${nibble("h", "5")} * 256 + ${nibble("h", "6")} * 16 + ${nibble("h", "7")}) AS BIGINT) AS height
         |  FROM m),
         |sc AS (
         |  SELECT id, width, height,
         |         least(256.0 / width, 256.0 / height, 1.0) AS scale
         |  FROM d)
         |SELECT id, width, height,
         |       CAST(GREATEST(CAST(floor(width * scale) AS BIGINT), 1) AS INT) AS out_width,
         |       CAST(GREATEST(CAST(floor(height * scale) AS BIGINT), 1) AS INT) AS out_height
         |FROM sc ORDER BY id""".stripMargin) { (s, dir) =>
      val media = Multimodal.syntheticMediaFrame(Tables(s, dir).documents)
      val decoded = Multimodal.decodeAndFeaturize(media).toDF()
        .select(col("id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
      Multimodal.resizeMeta(decoded, maxDim = 256)
        .select(col("id"), col("width"), col("height"),
          col("out_width"), col("out_height"))
        .orderBy(col("id"))
    },

    // Frame sampling for video rows: every 3rd frame index, max 5, from
    // the fake 1-frame-per-KiB count — one output row per sampled frame.
    "q53_multimodal_frames" -> QueryDef(
      """WITH v AS (
        |  SELECT doc_id AS id, length(text) AS sizeBytes
        |  FROM documents WHERE doc_id % 3 = 2),
        |fc AS (
        |  SELECT id, CAST(trunc(sizeBytes / 1024.0) AS INT) + 1 AS frameCount
        |  FROM v)
        |SELECT id, CAST(unnest((range(0, frameCount, 3))[1:5]) AS INT) AS frame_idx
        |FROM fc ORDER BY id, frame_idx""".stripMargin) { (s, dir) =>
      // doc_id % 3 = 2 → mediaType 'video' in syntheticMediaFrame
      val media = Multimodal.syntheticMediaFrame(Tables(s, dir).documents)
        .toDF().filter(col("meta.mediaType") === "video")
        .select(col("id"), col("meta.sizeBytes").as("sizeBytes"))
      Multimodal.sampleFrames(media, everyNth = 3, maxFrames = 5)
        .select(col("id"), col("frame_idx"))
        .orderBy(col("id"), col("frame_idx"))
    },

    // Perceptual image hash (dHash over the 9×8 fake luma grid → a
    // full 64 bits, the real dHashImages 8×8 geometry; widened round
    // 19 from 8×4/28 bits for the same reason as the audio family —
    // a 28-bit space saturates with natural collisions as the corpus
    // decades up): bit (y, x) = luma(y, x+1) > luma(y, x) —
    // brightness-shift invariant, ≤2 bits flip per perturbed cell.
    // DuckDB re-derives every byte from the 5-link md5 hex chain and
    // unrolls the 64 comparisons.
    "q203_image_dhash" -> QueryDef(
      s"""WITH m AS (SELECT doc_id AS id, $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 0)
         |SELECT id, CAST(${dhashSql64(byteSql("h", _))} AS BIGINT) AS dhash
         |FROM m ORDER BY id""".stripMargin) { (s, dir) =>
      imageGrids(s, dir)
        .select(col("id"),
          graft.functions.ImageHash.dHashGrid(col("grid"), 8, 8).as("dhash"))
        .orderBy(col("id"))
    },

    // Image NEAR-duplicate pairs: Hamming-band bucketing over the q203
    // hashes (4 bands × 7 bits — complete for distance ≤ 3 by
    // pigeonhole), exact xor+bit_count verify on candidates only. The
    // fixture plants REAL near-dups: every 5th image re-enters with one
    // luma cell bumped (≤ 2 hash bits flip), under id −(id+1) so the
    // variant space never collides with any corpus id. The oracle
    // derives the SAME pair set the opposite way — ALL pairs, exact
    // Hamming — so the band join's completeness is itself what the
    // compare proves (the q195 stance). No hot-bucket cap here: a cap
    // that binds would be a silent divergence from the all-pairs
    // oracle (the capped form + its accounting is spec'd in
    // OperatorSpec/ImageHashSpec).
    "q204_image_neardup_pairs" -> QueryDef({
      val base = dhashSql64(byteSql("h", _))
      val bumped = dhashSql64(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 1) % 256)" else byteSql("h", k))
      s"""WITH m AS (SELECT doc_id AS id, $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 0),
         |hs AS (SELECT id, CAST($base AS BIGINT) AS dhash FROM m
         |       UNION ALL
         |       SELECT -id - 1 AS id, CAST($bumped AS BIGINT) AS dhash
         |       FROM m WHERE id % 5 = 0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |        CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
         |      FROM hs a JOIN hs b ON a.id < b.id)
         |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      graft.operators.Dedup.hammingNearDupPairs(imageHashes(s, dir),
        bits = 64, bands = 4, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Image near-dup CLUSTERS: transitive closure of the q204 pairs
    // with the minimum member id canonical — the image twin of the
    // q75 text components (keep comp == id, drop the rest), so the
    // retention/split machinery (q105/q107) composes onto images
    // unchanged. DuckDB derives components via the recursive
    // reachability CTE over the all-pairs Hamming edges.
    "q206_image_neardup_components" -> QueryDef({
      val base = dhashSql64(byteSql("h", _))
      val bumped = dhashSql64(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 1) % 256)" else byteSql("h", k))
      s"""WITH RECURSIVE m AS (SELECT doc_id AS id,
         |           $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 0),
         |hs AS (SELECT id, CAST($base AS BIGINT) AS dhash FROM m
         |       UNION ALL
         |       SELECT -id - 1 AS id, CAST($bumped AS BIGINT) AS dhash
         |       FROM m WHERE id % 5 = 0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         |      FROM hs a JOIN hs b ON a.id < b.id
         |      WHERE bit_count(xor(a.dhash, b.dhash)) <= 3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT id, id AS r FROM hs
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT comp AS canonical_id, count(*) AS n_docs, max(id) AS max_id
         |FROM comp GROUP BY comp HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin
    }) { (s, dir) =>
      val hashes = Materialize.detached(imageHashes(s, dir))
      val pairs = graft.operators.Dedup.hammingNearDupPairs(hashes,
        bits = 64, bands = 4, maxDist = 3)
        .select(col("id_a"), col("id_b"))
      // maxIter = 64: a Hamming-ball graph chains THROUGH hash space
      // (a–b–c where consecutive hops differ ≤ maxDist bits), so
      // component diameter grows with hash density and the 20-round
      // text default measurably failed at sf1.0. Measured trade at
      // sf0.1/sf1.0: frontier-only propagation at 64 rounds (2.4/16.1 s)
      // beats connectedComponentsDoubling's full-table log-round
      // closure (3.3/28.7 s) while the diameter fits the bound —
      // doubling is the spec-pinned fallback when it no longer does.
      graft.operators.Dedup.connectedComponents(
        hashes.select(col("id")), pairs, maxIter = 64)
        .groupBy(col("comp").as("canonical_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
        .filter(col("n_docs") > 1)
        .orderBy(col("canonical_id"))
    },

    // Incremental image near-dup ADMISSION pairs: a new ingestion
    // batch's hashes checked against the persisted store side only
    // (the image analog of the text incremental near-dup, q83's
    // shape): store = even-position images, batch = odd-position
    // images ∪ one-cell-bumped variants of every 5th store image (the
    // planted hits — ≤ 2 Hamming bits from their base). The oracle is
    // the all-pairs cross Hamming — band completeness again the thing
    // the compare proves.
    // VIDEO near-duplicate pairs — the composition that closes the
    // multimodal dedup gap: frame-sample each video (the q53 operator,
    // every frame up to 8), per-frame dHash (the q203 kernel over the
    // per-frame fake luma grid — payload = md5 chain of text:frame_idx,
    // the deterministic stand-in for a real ffmpeg frame extractor),
    // then video-level candidates via SHARED EXACT FRAME HASHES
    // (complete for any Jaccard > 0: J ≥ 0.5 implies a shared frame)
    // and exact Jaccard over the distinct frame-hash SETS, integer
    // milli contract. Fixture plants near-dup videos: every 5th video
    // re-enters under -id-1 with frame 0's grid bumped one luma step —
    // sharing all frames but (at most) one, J = (n-1)/(n+1) ≥ 0.5
    // whenever the video has ≥ 3 frames (shorter variants fall below
    // threshold on BOTH engines — the contract, not a bug). The oracle
    // derives the pair set the OPPOSITE way — all video pairs, exact
    // set Jaccard — so the shared-frame candidate generation's
    // completeness is itself what the compare proves (the q195/q204
    // stance). Scale shape: postings self-join on fhash with
    // shuffle_hash pinned (frame-hash postings are corpus-shaped; the
    // hot-frame cap of Dedup.lshCandidatePairs applies unchanged when
    // a production corpus has degenerate frames — uncapped here so the
    // all-pairs oracle stays the completeness witness); signatures are
    // bounded by maxFrames, so per-pair verify is O(1).
    "q220_video_neardup_pairs" -> QueryDef({
      val base = dhashSql(byteSql("h", _))
      val bumped = dhashSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH v AS (SELECT doc_id AS id, text, length(text) * 16 AS sizeBytes
         |           FROM documents WHERE doc_id % 3 = 2),
         |fc AS (SELECT id, text,
         |         CAST(trunc(sizeBytes / 1024.0) AS INT) + 1 AS frameCount
         |       FROM v),
         |fr AS (SELECT id, text,
         |         CAST(unnest((range(0, frameCount, 1))[1:8]) AS INT) AS frame_idx
         |       FROM fc),
         |fg AS (SELECT id, frame_idx,
         |         md5(text || ':' || CAST(frame_idx AS VARCHAR)) ||
         |         md5(md5(text || ':' || CAST(frame_idx AS VARCHAR))) AS h
         |       FROM fr),
         |hb AS (SELECT id, CAST($base AS BIGINT) AS fhash FROM fg
         |       UNION ALL
         |       SELECT -id - 1 AS id,
         |         CAST(CASE WHEN frame_idx = 0 THEN $bumped ELSE $base END
         |           AS BIGINT) AS fhash
         |       FROM fg WHERE id % 5 = 0),
         |sg AS (SELECT id, list_distinct(list(fhash)) AS sig FROM hb GROUP BY id),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |        CAST(len(list_intersect(a.sig, b.sig)) AS BIGINT) AS inter,
         |        CAST(len(list_distinct(list_concat(a.sig, b.sig))) AS BIGINT) AS un
         |      FROM sg a JOIN sg b ON a.id < b.id)
         |SELECT id_a, id_b, inter, un, (1000 * inter) // un AS jacc_milli
         |FROM p WHERE 1000 * inter >= 500 * un
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      videoNearDupPairs(s, dir).orderBy(col("id_a"), col("id_b"))
    },

    // Video near-dup COMPONENTS: transitive closure of the q220 pairs
    // with the minimum member canonical — the video twin of q75/q206,
    // so retention (q105) and leakage-safe splits (q107) compose onto
    // videos unchanged. J ≥ 0.5 edges rarely chain (unlike the q206
    // Hamming balls), but maxIter = 64 keeps headroom; the oracle
    // replays the closure as the recursive reachability CTE over the
    // all-pairs-derived edge set.
    "q221_video_neardup_components" -> QueryDef({
      val base = dhashSql(byteSql("h", _))
      val bumped = dhashSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH RECURSIVE v AS (SELECT doc_id AS id, text,
         |           length(text) * 16 AS sizeBytes
         |           FROM documents WHERE doc_id % 3 = 2),
         |fc AS (SELECT id, text,
         |         CAST(trunc(sizeBytes / 1024.0) AS INT) + 1 AS frameCount
         |       FROM v),
         |fr AS (SELECT id, text,
         |         CAST(unnest((range(0, frameCount, 1))[1:8]) AS INT) AS frame_idx
         |       FROM fc),
         |fg AS (SELECT id, frame_idx,
         |         md5(text || ':' || CAST(frame_idx AS VARCHAR)) ||
         |         md5(md5(text || ':' || CAST(frame_idx AS VARCHAR))) AS h
         |       FROM fr),
         |hb AS (SELECT id, CAST($base AS BIGINT) AS fhash FROM fg
         |       UNION ALL
         |       SELECT -id - 1 AS id,
         |         CAST(CASE WHEN frame_idx = 0 THEN $bumped ELSE $base END
         |           AS BIGINT) AS fhash
         |       FROM fg WHERE id % 5 = 0),
         |sg AS (SELECT id, list_distinct(list(fhash)) AS sig FROM hb GROUP BY id),
         |pr AS (SELECT a.id AS id_a, b.id AS id_b
         |      FROM sg a JOIN sg b ON a.id < b.id
         |      WHERE 1000 * len(list_intersect(a.sig, b.sig)) >=
         |        500 * len(list_distinct(list_concat(a.sig, b.sig)))),
         |edges AS (SELECT id_a AS a, id_b AS b FROM pr
         |          UNION SELECT id_b, id_a FROM pr),
         |reach AS (
         |  SELECT id, id AS r FROM sg
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT comp AS canonical_id, count(*) AS n_docs, max(id) AS max_id
         |FROM comp GROUP BY comp HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin
    }) { (s, dir) =>
      // ONE detached posting table feeds both the node list and the
      // pair derivation — calling videoNearDupPairs here would rebuild
      // (and re-detach) the whole frame-sample + grid + hash pipeline
      // a second time for the same data
      val hs = Materialize.detached(videoFrameHashes(s, dir))
      val pairs = graft.operators.Dedup.frameSetNearDupPairs(hs, tMilli = 500)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.connectedComponents(
        hs.select(col("id")).distinct(), pairs, maxIter = 64)
        .groupBy(col("comp").as("canonical_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
        .filter(col("n_docs") > 1)
        .orderBy(col("canonical_id"))
    },

    // Incremental VIDEO near-dup ADMISSION pairs: a new ingestion
    // batch's frame-hash postings checked against the persisted store
    // side only (the video analog of q207 — store never re-pairs
    // against itself): store = even-id videos, batch = odd-id videos
    // ∪ frame-0-bumped variants of every 5th store video (the planted
    // hits). The oracle is the all-pairs batch × store set Jaccard —
    // shared-frame candidate completeness again the thing the compare
    // proves. The admission loop (admit iff near-dup of nothing
    // stored, min-id within batch, delta-append, replay re-decides
    // store-less) is MultimodalSpec's domain over FrameHashStore.
    "q222_video_incremental_neardup" -> QueryDef({
      val base = dhashSql(byteSql("h", _))
      val bumped = dhashSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH v AS (SELECT doc_id AS id, text, length(text) * 16 AS sizeBytes
         |           FROM documents WHERE doc_id % 3 = 2),
         |fc AS (SELECT id, text,
         |         CAST(trunc(sizeBytes / 1024.0) AS INT) + 1 AS frameCount
         |       FROM v),
         |fr AS (SELECT id, text,
         |         CAST(unnest((range(0, frameCount, 1))[1:8]) AS INT) AS frame_idx
         |       FROM fc),
         |fg AS (SELECT id, frame_idx,
         |         md5(text || ':' || CAST(frame_idx AS VARCHAR)) ||
         |         md5(md5(text || ':' || CAST(frame_idx AS VARCHAR))) AS h
         |       FROM fr),
         |hb AS (SELECT id, CAST($base AS BIGINT) AS fhash FROM fg
         |       UNION ALL
         |       SELECT -id - 1 AS id,
         |         CAST(CASE WHEN frame_idx = 0 THEN $bumped ELSE $base END
         |           AS BIGINT) AS fhash
         |       FROM fg WHERE id % 5 = 0),
         |st AS (SELECT id, fhash FROM hb WHERE id >= 0 AND id % 2 = 0),
         |bt AS (SELECT id, fhash FROM hb WHERE (id >= 0 AND id % 2 = 1)
         |       OR (id < 0 AND (-id - 1) % 2 = 0)),
         |ssg AS (SELECT id, list_distinct(list(fhash)) AS sig FROM st GROUP BY id),
         |bsg AS (SELECT id, list_distinct(list(fhash)) AS sig FROM bt GROUP BY id),
         |p AS (SELECT b.id AS new_id, s.id AS store_id,
         |        CAST(len(list_intersect(b.sig, s.sig)) AS BIGINT) AS inter,
         |        CAST(len(list_distinct(list_concat(b.sig, s.sig))) AS BIGINT) AS un
         |      FROM bsg b CROSS JOIN ssg s)
         |SELECT new_id, store_id, inter, un, (1000 * inter) // un AS jacc_milli
         |FROM p WHERE 1000 * inter >= 500 * un
         |ORDER BY new_id, store_id""".stripMargin
    }) { (s, dir) =>
      val hs = Materialize.detached(videoFrameHashes(s, dir))
      val store = hs.filter(col("id") >= 0 && col("id") % 2 === 0)
      val batch = hs.filter((col("id") >= 0 && col("id") % 2 === 1) ||
        (col("id") < 0 && (-col("id") - 1) % 2 === 0))
      graft.operators.Dedup.incrementalFrameSetPairs(batch, store,
        tMilli = 500)
        .orderBy(col("new_id"), col("store_id"))
    },

    // CAPPED video near-dup pairs WITH the loss accounting — the
    // production 100 TB form of q220 (the q204 hot-bucket discipline):
    // the fixture plants a UNIVERSAL static frame (hash -1, a black
    // intro frame every video shares), which makes the uncapped
    // posting self-join quadratic in the corpus — exactly the
    // skewed-key blowup maxPostingSize exists for. With cap = 100 the
    // universal frame drops from CANDIDATE GENERATION (videos still
    // pair through their real shared frames, and verification joins
    // back to the FULL sets including the hot frame), and
    // hotFrameHashes reports the drop as 'hot_frame' rows next to the
    // surviving 'pair' rows — the cap's loss accounted in the SAME
    // result, never silent. The oracle mirrors the cap: hot = hashes
    // with > 100 distinct carriers, candidates from cold postings
    // only, exact set Jaccard over the full signatures. SCALE row
    // pins the candidate-mass bound vs the uncapped blowup.
    "q223_video_capped_pairs" -> QueryDef({
      val base = dhashSql(byteSql("h", _))
      val bumped = dhashSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH v AS (SELECT doc_id AS id, text, length(text) * 16 AS sizeBytes
         |           FROM documents WHERE doc_id % 3 = 2),
         |fc AS (SELECT id, text,
         |         CAST(trunc(sizeBytes / 1024.0) AS INT) + 1 AS frameCount
         |       FROM v),
         |fr AS (SELECT id, text,
         |         CAST(unnest((range(0, frameCount, 1))[1:8]) AS INT) AS frame_idx
         |       FROM fc),
         |fg AS (SELECT id, frame_idx,
         |         md5(text || ':' || CAST(frame_idx AS VARCHAR)) ||
         |         md5(md5(text || ':' || CAST(frame_idx AS VARCHAR))) AS h
         |       FROM fr),
         |hb AS (SELECT id, CAST($base AS BIGINT) AS fhash FROM fg
         |       UNION ALL
         |       SELECT -id - 1 AS id,
         |         CAST(CASE WHEN frame_idx = 0 THEN $bumped ELSE $base END
         |           AS BIGINT) AS fhash
         |       FROM fg WHERE id % 5 = 0),
         |hbd AS (SELECT DISTINCT id, fhash FROM hb
         |        UNION SELECT DISTINCT id, CAST(-1 AS BIGINT) AS fhash FROM hb),
         |hot AS (SELECT fhash, CAST(count(*) AS BIGINT) AS n_ids FROM hbd
         |        GROUP BY fhash HAVING count(*) > 100),
         |cold AS (SELECT id, fhash FROM hbd
         |         WHERE fhash NOT IN (SELECT fhash FROM hot)),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |         FROM cold a JOIN cold b
         |           ON a.fhash = b.fhash AND a.id < b.id),
         |sg AS (SELECT id, list_distinct(list(fhash)) AS sig
         |       FROM hbd GROUP BY id),
         |p AS (SELECT c.id_a, c.id_b,
         |        CAST(len(list_intersect(a.sig, b.sig)) AS BIGINT) AS inter,
         |        CAST(len(list_distinct(list_concat(a.sig, b.sig))) AS BIGINT) AS un
         |      FROM cand c JOIN sg a ON c.id_a = a.id
         |                  JOIN sg b ON c.id_b = b.id)
         |SELECT 'pair' AS kind, id_a AS key_a, id_b AS key_b, inter, un,
         |       (1000 * inter) // un AS jacc_milli
         |FROM p WHERE 1000 * inter >= 500 * un
         |UNION ALL
         |SELECT 'hot_frame' AS kind, fhash AS key_a, n_ids AS key_b,
         |       CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |FROM hot
         |ORDER BY kind, key_a, key_b""".stripMargin
    }) { (s, dir) =>
      val hs = videoFrameHashes(s, dir)
      // the planted universal frame: hash -1 (outside the 28-bit dHash
      // range, so it never collides with a real frame hash) carried by
      // EVERY video — the static-intro-frame skew
      val univ = hs.select(col("id")).distinct()
        .withColumn("fhash", lit(-1L))
      val p = Materialize.detached(hs.unionByName(univ))
      // ONE hot set feeds both the operator and the accounting rows —
      // computed once, no cap drift possible between the two
      val hot = Materialize.detached(
        graft.operators.Dedup.hotFrameHashes(p, cap = 100))
      val pairs = graft.operators.Dedup.frameSetNearDupPairs(p,
        tMilli = 500, hotFrameKeys = Some(hot))
      pairs.select(lit("pair").as("kind"),
          col("id_a").as("key_a"), col("id_b").as("key_b"),
          col("inter"), col("un"), col("jacc_milli"))
        .unionByName(hot.select(lit("hot_frame").as("kind"),
          col("fhash").as("key_a"), col("n_ids").as("key_b"),
          lit(0L).as("inter"), lit(0L).as("un"), lit(0L).as("jacc_milli")))
        .orderBy(col("kind"), col("key_a"), col("key_b"))
    },

    // Perceptual AUDIO fingerprint (temporal band-energy deltas over
    // the 17-window × 4-band fake energy matrix → a full 64 bits): bit
    // (t, b) = energy(t+1, b) > energy(t, b) — gain-invariant, ≤ 2 bits
    // flip per perturbed cell. The acoustic twin of q203: the native
    // kernel rides the same decode plumbing; DuckDB re-derives every
    // byte from the 5-link md5 hex chain and unrolls the 64 temporal
    // comparisons.
    "q224_audio_fingerprint" -> QueryDef(
      s"""WITH m AS (SELECT doc_id AS id, $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 1)
         |SELECT id, CAST(${audioFpSql(byteSql("h", _))} AS BIGINT) AS afp
         |FROM m ORDER BY id""".stripMargin) { (s, dir) =>
      audioEnergies(s, dir)
        .select(col("id"),
          graft.functions.AudioFingerprint.bandFingerprint(
            col("energies"), AudioFrames, AudioBands).as("afp"))
        .orderBy(col("id"))
    },

    // Audio NEAR-duplicate pairs: Hamming-band bucketing over the q224
    // fingerprints — the q204 machinery UNCHANGED (4 bands × 16 bits,
    // complete for distance ≤ 3 by pigeonhole), exact xor+bit_count
    // verify on candidates only. The fixture plants REAL near-dups:
    // every 5th audio re-enters under -id-1 with one window's band
    // energy bumped (≤ 2 fingerprint bits flip — a loudness spike in
    // one band of one window). The oracle derives the SAME pair set
    // the opposite way — ALL pairs, exact Hamming — so the band join's
    // completeness is itself what the compare proves (the q195/q204
    // stance).
    "q225_audio_neardup_pairs" -> QueryDef({
      val base = audioFpSql(byteSql("h", _))
      val bumped = audioFpSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH m AS (SELECT doc_id AS id, $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 1),
         |hs AS (SELECT id, CAST($base AS BIGINT) AS afp FROM m
         |       UNION ALL
         |       SELECT -id - 1 AS id, CAST($bumped AS BIGINT) AS afp
         |       FROM m WHERE id % 5 = 0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |        CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
         |      FROM hs a JOIN hs b ON a.id < b.id)
         |SELECT id_a, id_b, hamming FROM p WHERE hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
      graft.operators.Dedup.hammingNearDupPairs(audioFingerprints(s, dir),
        bits = 64, bands = 4, maxDist = 3)
        .orderBy(col("id_a"), col("id_b"))
    },

    // Audio near-dup CLUSTERS: transitive closure of the q225 pairs
    // with the minimum member id canonical — the audio twin of
    // q206/q221, so retention (q105) and leakage-safe splits (q107)
    // compose onto audio unchanged. maxIter = 64 (the q206 lesson:
    // Hamming-ball graphs chain through hash space, so component
    // diameter grows with fingerprint density).
    "q226_audio_neardup_components" -> QueryDef({
      val base = audioFpSql(byteSql("h", _))
      val bumped = audioFpSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH RECURSIVE m AS (SELECT doc_id AS id,
         |           $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 1),
         |hs AS (SELECT id, CAST($base AS BIGINT) AS afp FROM m
         |       UNION ALL
         |       SELECT -id - 1 AS id, CAST($bumped AS BIGINT) AS afp
         |       FROM m WHERE id % 5 = 0),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         |      FROM hs a JOIN hs b ON a.id < b.id
         |      WHERE bit_count(xor(a.afp, b.afp)) <= 3),
         |edges AS (SELECT id_a AS a, id_b AS b FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach AS (
         |  SELECT id, id AS r FROM hs
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT comp AS canonical_id, count(*) AS n_docs, max(id) AS max_id
         |FROM comp GROUP BY comp HAVING count(*) > 1
         |ORDER BY canonical_id""".stripMargin
    }) { (s, dir) =>
      val hashes = Materialize.detached(audioFingerprints(s, dir))
      val pairs = graft.operators.Dedup.hammingNearDupPairs(hashes,
        bits = 64, bands = 4, maxDist = 3)
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.connectedComponents(
        hashes.select(col("id")), pairs, maxIter = 64)
        .groupBy(col("comp").as("canonical_id"))
        .agg(count(lit(1)).as("n_docs"), max(col("id")).as("max_id"))
        .filter(col("n_docs") > 1)
        .orderBy(col("canonical_id"))
    },

    // Incremental audio near-dup ADMISSION pairs: a new ingestion
    // batch's fingerprints checked against the persisted store side
    // only (the audio analog of q207/q222 — the store never re-pairs
    // against itself): store = audio ids ≡ 1 (mod 6), batch = ids ≡ 4
    // (mod 6) ∪ one-cell-bumped variants of every 5th store audio (the
    // planted hits, ≤ 2 Hamming bits from their base). Oracle is the
    // all-pairs cross Hamming — band completeness again the thing the
    // compare proves. The admission loop (admit iff near-dup of
    // nothing stored, min-id within batch, delta-append, replay
    // re-decides store-less) is MultimodalSpec's domain over
    // AudioHashStore.
    "q227_audio_incremental_neardup" -> QueryDef({
      val base = audioFpSql(byteSql("h", _))
      val bumped = audioFpSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      s"""WITH m AS (SELECT doc_id AS id, $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 1),
         |st AS (SELECT id, CAST($base AS BIGINT) AS afp FROM m
         |       WHERE id % 6 = 1),
         |nw AS (SELECT id, CAST($base AS BIGINT) AS afp FROM m
         |       WHERE id % 6 = 4
         |       UNION ALL
         |       SELECT -id - 1 AS id, CAST($bumped AS BIGINT) AS afp
         |       FROM m WHERE id % 6 = 1 AND id % 5 = 0)
         |SELECT nw.id AS new_id, st.id AS store_id,
         |       CAST(bit_count(xor(nw.afp, st.afp)) AS BIGINT)
         |         AS hamming
         |FROM nw JOIN st ON bit_count(xor(nw.afp, st.afp)) <= 3
         |ORDER BY new_id, store_id""".stripMargin
    }) { (s, dir) =>
      val en = audioEnergies(s, dir)
      def fp(g: org.apache.spark.sql.DataFrame) = g.select(col("id"),
        graft.functions.AudioFingerprint.bandFingerprint(
          col("energies"), AudioFrames, AudioBands).as("hash"))
      val store = fp(en.filter(col("id") % 6 === 1))
      val variants = en.filter(col("id") % 6 === 1 && col("id") % 5 === 0)
        .select((-col("id") - 1).as("id"),
          transform(col("energies"), (v, i) =>
            when(i === 9, (v + 128) % 256).otherwise(v)).as("energies"))
      val batch = fp(en.filter(col("id") % 6 === 4)).unionByName(fp(variants))
      graft.operators.Dedup.incrementalHammingPairs(batch, store,
        bits = 28, bands = 4, maxDist = 3)
        .orderBy(col("new_id"), col("store_id"))
    },

    // MULTIMODAL leakage-safe split — the composition that wires the
    // video column into the curation story: an entity is a (caption,
    // frame-set) pair, "same content" is caption EXACT-dup OR frame-set
    // NEAR-dup (J >= 0.5), components close over the UNION of both
    // edge sets, and the train/val/test split buckets on the JOINT
    // component canonical (q107's bucket-on-canonical applied to
    // q221's components) — so a re-captioned copy of a test video can
    // never reach train through either modality. The fixture makes the
    // joint closure load-bearing: every 5th video re-enters TWICE —
    // once re-captioned with bumped frames (-id-1: frame edge only),
    // once same-captioned with fresh frames (+2^40: caption edge
    // only) — a 3-member component NEITHER modality alone connects.
    // The oracle replays the closure as the recursive reachability CTE
    // over the union edge set and the same FNV-1a64 permille bucket.
    "q228_multimodal_leakage_split" -> QueryDef({
      val base = dhashSql(byteSql("h", _))
      val bumped = dhashSql(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 128) % 256)" else byteSql("h", k))
      val bucket = fnvBucketSql("CAST(comp AS VARCHAR)")
      s"""WITH RECURSIVE v AS (SELECT doc_id AS id, text FROM documents
         |                     WHERE doc_id % 3 = 2),
         |ent AS (SELECT id, text AS caption FROM v
         |        UNION ALL SELECT -id - 1, text || ' v2' FROM v WHERE id % 5 = 0
         |        UNION ALL SELECT id + 1099511627776, text FROM v WHERE id % 5 = 0),
         |fc AS (SELECT id, text,
         |         CAST(trunc(length(text) * 16 / 1024.0) AS INT) + 1
         |           AS frameCount FROM v),
         |fr AS (SELECT id, text,
         |         CAST(unnest((range(0, frameCount, 1))[1:8]) AS INT) AS frame_idx
         |       FROM fc),
         |fg AS (SELECT id, frame_idx,
         |         md5(text || ':' || CAST(frame_idx AS VARCHAR)) ||
         |         md5(md5(text || ':' || CAST(frame_idx AS VARCHAR))) AS h
         |       FROM fr),
         |fga AS (SELECT id + 1099511627776 AS id, frame_idx,
         |          md5(text || '#alt:' || CAST(frame_idx AS VARCHAR)) ||
         |          md5(md5(text || '#alt:' || CAST(frame_idx AS VARCHAR))) AS h
         |        FROM fr WHERE id % 5 = 0),
         |hb AS (SELECT id, CAST($base AS BIGINT) AS fhash FROM fg
         |       UNION ALL
         |       SELECT -id - 1 AS id,
         |         CAST(CASE WHEN frame_idx = 0 THEN $bumped ELSE $base END
         |           AS BIGINT) AS fhash
         |       FROM fg WHERE id % 5 = 0
         |       UNION ALL
         |       SELECT id, CAST($base AS BIGINT) AS fhash FROM fga),
         |sg AS (SELECT id, list_distinct(list(fhash)) AS sig FROM hb GROUP BY id),
         |fpr AS (SELECT a.id AS id_a, b.id AS id_b
         |        FROM sg a JOIN sg b ON a.id < b.id
         |        WHERE 1000 * len(list_intersect(a.sig, b.sig)) >=
         |          500 * len(list_distinct(list_concat(a.sig, b.sig)))),
         |cfp AS (SELECT id, md5(regexp_replace(lower(caption), '\\s+', ' ', 'g'))
         |          AS fp FROM ent),
         |cmin AS (SELECT fp, min(id) AS a FROM cfp GROUP BY fp),
         |cedg AS (SELECT c.a AS id_a, cfp.id AS id_b
         |         FROM cfp JOIN cmin c USING (fp) WHERE cfp.id <> c.a),
         |edges AS (SELECT id_a AS a, id_b AS b FROM fpr
         |          UNION SELECT id_b, id_a FROM fpr
         |          UNION SELECT id_a, id_b FROM cedg
         |          UNION SELECT id_b, id_a FROM cedg),
         |reach AS (
         |  SELECT id, id AS r FROM ent
         |  UNION
         |  SELECT e.b AS id, reach.r FROM reach JOIN edges e ON reach.id = e.a),
         |comp AS (SELECT id, min(r) AS comp FROM reach GROUP BY id)
         |SELECT id, comp, $bucket AS bucket,
         |       CASE WHEN $bucket < 500 THEN 'test'
         |            WHEN $bucket < 1000 THEN 'val'
         |            ELSE 'train' END AS split
         |FROM comp ORDER BY id""".stripMargin
    }) { (s, dir) =>
      val v = Tables(s, dir).documents.filter(col("doc_id") % 3 === 2)
        .select(col("doc_id").as("id"), col("text"))
      // entities: base / re-captioned frame variant / same-caption twin
      val captions = Materialize.detached(
        v.select(col("id"), col("text").as("caption"))
          .unionByName(v.filter(col("id") % 5 === 0)
            .select((-col("id") - 1).as("id"),
              concat(col("text"), lit(" v2")).as("caption")))
          .unionByName(v.filter(col("id") % 5 === 0)
            .select((col("id") + (1L << 40)).as("id"),
              col("text").as("caption"))))
      // caption EXACT edges as star edges to the cluster min id — same
      // closure as all-pairs at O(cluster) instead of O(cluster²) rows
      val cfp = captions.select(col("id"),
        md5(regexp_replace(lower(col("caption")), "\\s+", " ")).as("fp"))
      val cmin = cfp.groupBy(col("fp")).agg(min(col("id")).as("id_a"))
      val capEdges = cfp.join(cmin.hint("shuffle_hash"), Seq("fp"))
        .filter(col("id") =!= col("id_a"))
        .select(col("id_a"), col("id").as("id_b"))
      // frame postings: the shared q220/q221 fixture (base + bumped
      // variants) plus the twins' independently-seeded frames
      val vt = v.filter(col("id") % 5 === 0)
        .select((col("id") + (1L << 40)).as("id"),
          concat(col("text"), lit("#alt")).as("text"),
          (length(col("text")).cast("long") * 16L).as("sizeBytes"))
      val tframes = Multimodal.sampleFrames(vt, everyNth = 1, maxFrames = 8)
      val thx = concat(
        md5(concat(col("text"), lit(":"), col("frame_idx").cast("string"))),
        md5(md5(concat(col("text"), lit(":"),
          col("frame_idx").cast("string")))))
      val twinPostings = tframes.select(col("id"),
        graft.functions.ImageHash.dHashGrid(
          Multimodal.fakeLumaGrid(unhex(thx)), 7, 4).as("fhash"))
      val postings = Materialize.detached(
        videoFrameHashes(s, dir).unionByName(twinPostings))
      val frameEdges = graft.operators.Dedup
        .frameSetNearDupPairs(postings, tMilli = 500)
        .select(col("id_a"), col("id_b"))
      val comps = graft.operators.Dedup.connectedComponents(
        captions.select(col("id")),
        capEdges.unionByName(frameEdges), maxIter = 64)
      graft.operators.CorpusOps.leakageSafeSplit(comps)
        .select(col("id"), col("comp"), col("bucket"), col("split"))
        .orderBy(col("id"))
    },

    "q207_image_incremental_neardup" -> QueryDef({
      val base = dhashSql64(byteSql("h", _))
      val bumped = dhashSql64(k =>
        if (k == 9) s"((${byteSql("h", 9)} + 1) % 256)" else byteSql("h", k))
      s"""WITH m AS (SELECT doc_id AS id, $md5Chain5Sql AS h
         |           FROM documents WHERE doc_id % 3 = 0),
         |st AS (SELECT id, CAST($base AS BIGINT) AS dhash FROM m
         |       WHERE id % 6 = 0),
         |nw AS (SELECT id, CAST($base AS BIGINT) AS dhash FROM m
         |       WHERE id % 6 = 3
         |       UNION ALL
         |       SELECT -id - 1 AS id, CAST($bumped AS BIGINT) AS dhash
         |       FROM m WHERE id % 6 = 0 AND id % 5 = 0)
         |SELECT nw.id AS new_id, st.id AS store_id,
         |       CAST(bit_count(xor(nw.dhash, st.dhash)) AS BIGINT)
         |         AS hamming
         |FROM nw JOIN st ON bit_count(xor(nw.dhash, st.dhash)) <= 3
         |ORDER BY new_id, store_id""".stripMargin
    }) { (s, dir) =>
      val grids = imageGrids(s, dir)
      def hashed(g: org.apache.spark.sql.DataFrame) = g.select(col("id"),
        graft.functions.ImageHash.dHashGrid(col("grid"), 8, 8).as("hash"))
      val store = hashed(grids.filter(col("id") % 6 === 0))
      val variants = grids.filter(col("id") % 6 === 0 && col("id") % 5 === 0)
        .select((-col("id") - 1).as("id"),
          transform(col("grid"), (v, i) =>
            when(i === 9, (v + 1) % 256).otherwise(v)).as("grid"))
      val batch = hashed(grids.filter(col("id") % 6 === 3))
        .unionByName(hashed(variants))
      graft.operators.Dedup.incrementalHammingPairs(batch, store,
        bits = 64, bands = 4, maxDist = 3)
        .orderBy(col("new_id"), col("store_id"))
    }
  )

  /** The (id, fhash) frame-hash postings of the video corpus + planted
    * variants — the shared input of q220/q221: videos frame-sampled
    * through [[Multimodal.sampleFrames]] (sizeBytes scaled ×16 so the
    * fake 1-frame/KiB count yields 1–8 frames at fixture doc sizes),
    * per-frame payload the md5 chain of text:frame_idx, per-frame
    * dHash over the fake luma grid, distinct per video. */
  private[graft] def videoFrameHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val v = Tables(s, dir).documents.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("id"), col("text"),
        (length(col("text")).cast("long") * 16L).as("sizeBytes"))
    val frames = Multimodal.sampleFrames(v, everyNth = 1, maxFrames = 8)
    val hx = concat(
      md5(concat(col("text"), lit(":"), col("frame_idx").cast("string"))),
      md5(md5(concat(col("text"), lit(":"), col("frame_idx").cast("string")))))
    val grids = frames.select(col("id"), col("frame_idx"),
      Multimodal.fakeLumaGrid(unhex(hx)).as("grid"))
    val variants = grids.filter(col("id") % 5 === 0)
      .select((-col("id") - 1).as("id"), col("frame_idx"),
        transform(col("grid"), (x, i) =>
          when(i === 9 && col("frame_idx") === 0, (x + 128) % 256)
            .otherwise(x)).as("grid"))
    // raw postings (may carry duplicate (id, fhash) rows when two
    // frames hash identically): the frame-set operators enforce set
    // semantics internally, so no distinct here — one aggregate, not two
    grids.unionByName(variants)
      .select(col("id"),
        graft.functions.ImageHash.dHashGrid(col("grid"), 7, 4).as("fhash"))
  }

  /** The q220 pair derivation: [[graft.operators.Dedup
    * .frameSetNearDupPairs]] over the fixture postings at the 500-milli
    * threshold. Postings are detached so the frame-sample + grid + hash
    * pipeline runs once across the operator's joins. */
  private def videoNearDupPairs(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Dedup.frameSetNearDupPairs(
      Materialize.detached(videoFrameHashes(s, dir)), tMilli = 500)

  /** Audio fixture geometry: 17 windows × 4 bands → a FULL 64-bit
    * fingerprint ((17−1)·4 comparisons). Widened from the original
    * 8×4/28-bit form because a 28-bit space saturates with natural
    * collisions as the corpus decades up (q225/q227's superlinear
    * sf1.0→sf10 ratios were fixture collision growth, not plan
    * growth); at 64 bits pair mass stays band-linear. */
  // defs, not vals: the `entries` val above initializes FIRST, so a
  // val here would still be 0/null when the query SQL strings render
  private def AudioFrames: Int = 17
  private def AudioBands: Int = 4

  /** The fake band-energy matrices of the audio corpus (id, energies):
    * 17 × 4 = 68 cells, each a byte of the 5-link md5 hex chain of the
    * doc text (the 32-byte 2-link chain only covers 8×4) — the shared
    * input of the q224–q227 acoustic-fingerprint family. DuckDB
    * re-derives the same bytes from [[audioChainSql]]. */
  private def audioEnergies(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val c1 = md5(col("text"))
    val c2 = md5(c1)
    val c3 = md5(c2)
    val c4 = md5(c3)
    val c5 = md5(c4)
    val h = concat(c1, c2, c3, c4, c5)
    Tables(s, dir).documents.filter(col("doc_id") % 3 === 1)
      .select(col("doc_id").as("id"),
        array((0 until AudioFrames * AudioBands).map { k =>
          conv(substring(h, 2 * k + 1, 2), 16, 10).cast("int")
        }: _*).as("energies"))
  }

  /** The 5-link md5 hex chain (160 chars — covers the 68-byte audio
    * matrices AND the 72-byte image grids) — the oracle-side twin of
    * [[audioEnergies]]/[[imageGrids]]' payload derivations. */
  private def md5Chain5Sql: String =
    "md5(text) || md5(md5(text)) || md5(md5(md5(text))) || " +
      "md5(md5(md5(md5(text)))) || md5(md5(md5(md5(md5(text)))))"

  /** The q225/q226 fingerprint fixture: base audio fingerprints ∪
    * planted near-dup variants (every 5th audio under -id-1 with
    * energy cell 9 bumped half the byte range — ≤ 2 bits flip). */
  private[graft] def audioFingerprints(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val en = audioEnergies(s, dir)
    val variants = en.filter(col("id") % 5 === 0)
      .select((-col("id") - 1).as("id"),
        transform(col("energies"), (v, i) =>
          when(i === 9, (v + 128) % 256).otherwise(v)).as("energies"))
    en.unionByName(variants)
      .select(col("id"),
        graft.functions.AudioFingerprint.bandFingerprint(
          col("energies"), AudioFrames, AudioBands).as("hash"))
  }

  /** The fake luma grids of the image corpus (id, grid): 9 × 8 = 72
    * cells, each a byte of the 5-link md5 chain — the [[audioEnergies]]
    * discipline applied to the image fixture (widened round 19 from
    * the 32-byte/8×4 payload for the same 28-bit-saturation reason). */
  private def imageGrids(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val c1 = md5(col("text"))
    val c2 = md5(c1)
    val c3 = md5(c2)
    val c4 = md5(c3)
    val c5 = md5(c4)
    val h = concat(c1, c2, c3, c4, c5)
    Tables(s, dir).documents.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id").as("id"),
        array((0 until 72).map { k =>
          conv(substring(h, 2 * k + 1, 2), 16, 10).cast("int")
        }: _*).as("grid"))
  }

  /** The q204/q206 hash fixture: base image dHashes ∪ planted near-dup
    * variants (every 5th image under -id-1 with luma cell 9 bumped —
    * ≤ 2 bits flip). 64-bit hashes from the 9×8 grid. */
  private[graft] def imageHashes(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val g = imageGrids(s, dir)
    val variants = g.filter(col("id") % 5 === 0)
      .select((-col("id") - 1).as("id"),
        transform(col("grid"), (v, i) =>
          when(i === 9, (v + 1) % 256).otherwise(v)).as("grid"))
    g.unionByName(variants)
      .select(col("id"),
        graft.functions.ImageHash.dHashGrid(col("grid"), 8, 8).as("hash"))
  }

  /** Byte k (0-based) of the 32-byte payload as nibble arithmetic over
    * the 64-char md5-chain hex string. */
  private def byteSql(h: String, k: Int): String =
    s"(${nibble(h, (2 * k + 1).toString)} * 16 + " +
      s"${nibble(h, (2 * k + 2).toString)})"

  /** The 64-bit dHash as unrolled adjacent-byte comparisons over a
    * 9-wide × 8-tall grid (bit b: y = b/8, x = b%8, grid pos y·9+x).
    * Bit 63 renders as the negative Long literal — safe, disjoint bits
    * summed ascending (the audioFpSql note). */
  private def dhashSql64(byteAt: Int => String): String =
    (0 until 64).map { b =>
      val p = (b / 8) * 9 + (b % 8)
      s"(CASE WHEN ${byteAt(p + 1)} > ${byteAt(p)} " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** The 28-bit dHash as unrolled adjacent-byte comparisons over an
    * 8-wide × 4-tall grid (bit b: y = b/7, x = b%7, grid pos y·8+x) —
    * still the VIDEO FRAME hash geometry (32-byte per-frame payloads). */
  private def dhashSql(byteAt: Int => String): String =
    (0 until 28).map { b =>
      val p = (b / 7) * 8 + (b % 7)
      s"(CASE WHEN ${byteAt(p + 1)} > ${byteAt(p)} " +
        s"THEN ${1L << b} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** The 64-bit audio fingerprint as unrolled adjacent-WINDOW
    * comparisons over the 17-window × 4-band energy matrix (bit k:
    * window t = k/4, band b = k%4, cell t·4+b = k, compared against
    * the same band one window later at k+4). Bit 63's term renders as
    * the NEGATIVE Long literal −2⁶³ — safe in BIGINT arithmetic: the
    * terms are disjoint bits summed in ascending k, so the partial sum
    * over bits 0..62 is ≤ 2⁶³−1 and adding the final sign-bit term
    * lands exactly on the two's-complement value, never outside the
    * BIGINT range. */
  private def audioFpSql(byteAt: Int => String): String =
    (0 until (AudioFrames - 1) * AudioBands).map { k =>
      s"(CASE WHEN ${byteAt(k + AudioBands)} > ${byteAt(k)} " +
        s"THEN ${1L << k} ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
