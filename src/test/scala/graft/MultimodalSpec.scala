package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Multimodal

/** Runtime coverage for the multimodal stubs beyond q37's decode path:
  * resize metadata and frame sampling. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("multimodal-spec", "4").getOrCreate()

  private def decoded = {
    val docs = graft.core.Tables(spark, "/root/testdata/sf0.001").documents
    Multimodal.decodeAndFeaturize(Multimodal.syntheticMediaFrame(docs)).toDF()
  }

  // -- real codec (javax.imageio) ------------------------------------

  private def pngBytes(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, px(x, y))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def mediaOf(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    spark.createDataset(rows.map { case (id, p) =>
      Multimodal.MediaRow(id,
        Multimodal.MediaMeta("image", "png", p.length.toLong), p)
    })
  }

  test("ImageIO decode: real PNG and JPEG dims + luma features; garbage quarantined") {
    val red = pngBytes(64, 48)((_, _) => 0xFF0000) // luma 76 -> bin 4
    val grad = pngBytes(20, 10)((x, _) => x * 12 << 16 | x * 12 << 8 | x * 12)
    val jpegImg = new java.awt.image.BufferedImage(8, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(jpegImg, "jpg", jbos)
    val garbage = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    val out = Multimodal.decodeImages(
      mediaOf((1L, red), (2L, grad), (3L, jbos.toByteArray), (4L, garbage)))
      .collect().map(r => r.id -> r).toMap

    assert(out(1L).decoded && out(1L).width == 64 && out(1L).height == 48)
    // solid red: every pixel's Rec.601 luma is 76 -> all mass in bin 4
    assert(out(1L).features(76 >> 4) == 1.0f)
    assert(out(1L).lumaSum == 76L * 64 * 48)
    assert(out(2L).decoded && out(2L).width == 20 && out(2L).height == 10)
    assert(math.abs(out(2L).features.sum - 1.0f) < 1e-5)
    assert(out(3L).decoded && out(3L).width == 8 && out(3L).height == 8)
    assert(!out(4L).decoded && out(4L).features.isEmpty,
      "undecodable payload must quarantine, not fail the task")
  }

  test("ImageIO resize: box-bounded, aspect-preserving, output re-decodes") {
    val red = pngBytes(64, 48)((_, _) => 0xFF0000)
    val tiny = pngBytes(5, 4)((_, _) => 0x00FF00)
    val garbage = Array.tabulate[Byte](32)(i => (i * 3).toByte)
    val resized = Multimodal.resizeImages(
      mediaOf((1L, red), (2L, tiny), (3L, garbage)), maxDim = 16)
      .collect().map(r => r.id -> r).toMap
    // 64x48 -> 16x12; re-decode the actual output bytes and check color
    val dec = Multimodal.ImageIoCodec.decode(resized(1L).payload).get
    assert((dec._1, dec._2) == ((16, 12)), s"got ${(dec._1, dec._2)}")
    assert(dec._4(76 >> 4) == 1.0f, "solid red survives bilinear resize")
    assert(resized(1L).meta.format == "png" &&
      resized(1L).meta.sizeBytes == resized(1L).payload.length.toLong)
    // under the box: untouched dims (never upscale)
    val dec2 = Multimodal.ImageIoCodec.decode(resized(2L).payload).get
    assert((dec2._1, dec2._2) == ((5, 4)))
    // garbage passes through unchanged, original metadata intact
    assert(resized(3L).payload.sameElements(garbage))
    assert(resized(3L).meta.sizeBytes == garbage.length.toLong)
  }

  test("resizeMeta preserves aspect ratio and never upscales") {
    val out = Multimodal.resizeMeta(decoded, maxDim = 256).collect()
    out.foreach { r =>
      val (w, h) = (r.getInt(r.fieldIndex("width")), r.getInt(r.fieldIndex("height")))
      val (ow, oh) = (r.getInt(r.fieldIndex("out_width")), r.getInt(r.fieldIndex("out_height")))
      assert(ow <= 256 && oh <= 256 && ow >= 1 && oh >= 1)
      assert(ow <= w && oh <= h) // scale factor capped at 1.0: no upscale
      if (w > 256 || h > 256) {
        // aspect preserved within floor-rounding of one pixel
        val scale = math.min(256.0 / w, 256.0 / h)
        assert(math.abs(ow - w * scale) <= 1 && math.abs(oh - h * scale) <= 1)
      } else assert(ow == w && oh == h)
    }
  }

  test("sampleFrames generates every-nth frame indexes up to the cap") {
    val frames = Multimodal.sampleFrames(decoded, everyNth = 2, maxFrames = 3)
    val byId = frames.groupBy("id")
      .agg(collect_list("frame_idx").as("idxs"), first("sizeBytes").as("sz"))
      .collect()
    byId.foreach { r =>
      val idxs = r.getSeq[Int](1)
      val frameCount = r.getLong(2) / 1024 + 1
      val expected = (0L until frameCount by 2).take(3).map(_.toInt)
      assert(idxs.sorted == expected.sorted,
        s"id=${r.getLong(0)} sz=${r.getLong(2)}")
    }
  }

  test("feature histogram sums to ~1 (normalized byte histogram)") {
    val rows = decoded.select(col("features")).limit(10).collect()
    rows.foreach { r =>
      val sum = r.getSeq[Float](0).map(_.toDouble).sum
      assert(math.abs(sum - 1.0) < 1e-5)
    }
  }

  // -- real video containers (MJPEG / concatenated PNG) ---------------

  /** A 9×8 gray frame encoded with the given writer format — pixel grid
    * == the gw=8/gh=8 dHash luma grid, so the hash is a direct function
    * of the pattern. */
  private def frameBytes(fmt: String)(g: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) {
      val v = g(x, y) & 0xFF
      img.setRGB(x, y, v << 16 | v << 8 | v)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, bos)
    bos.toByteArray
  }

  private def videoOf(rows: (Long, Array[Byte])*) = {
    import spark.implicits._
    spark.createDataset(rows.map { case (id, p) =>
      Multimodal.MediaRow(id,
        Multimodal.MediaMeta("video", "mjpeg", p.length.toLong), p)
    })
  }

  test("real containers: MJPEG + concatenated-PNG frames decode, hash, and find the planted near-dup") {
    // four visually distinct frames + one more for the twin's tail
    val a1 = frameBytes("jpg")((x, _) => (8 - x) * 25)         // decreasing
    val a2 = frameBytes("jpg")((x, y) => ((x + y) % 2) * 200)  // checker
    val a3 = frameBytes("jpg")((x, y) => ((x * 2 + y) % 3) * 100)
    val a4 = frameBytes("jpg")((x, y) => (x * y % 5) * 50)
    val b4 = frameBytes("jpg")((x, y) => ((x + y * 3) % 4) * 60)
    // video A = 4 JPEG frames; twin B shares A's first three frame
    // BYTES (an MJPEG cut sharing footage) + one new frame:
    // J = 3/5 = 0.6 >= 0.5
    val vidA = a1 ++ a2 ++ a3 ++ a4
    val vidB = a1 ++ a2 ++ a3 ++ b4
    // video C = 2 PNG frames, unrelated footage (exercises the PNG walk)
    val c1 = frameBytes("png")((x, y) => (x * 13 + y * 29) % 256)
    val c2 = frameBytes("png")((x, y) => (x * 29 + y * 13) % 256)
    val vidC = c1 ++ c2
    val out = Multimodal.dHashVideoFrames(
      videoOf((1L, vidA), (2L, vidB), (3L, vidC)))
      .collect()
    assert(out.forall(_.decoded), out.mkString("|"))
    assert(out.count(_.id == 1L) == 4 && out.count(_.id == 2L) == 4 &&
      out.count(_.id == 3L) == 2)
    val hashOf = out.map(r => (r.id, r.frameIdx) -> r.fhash).toMap
    // shared frame bytes decode to identical pixels -> identical hashes
    for (fi <- 0 to 2)
      assert(hashOf((1L, fi)) == hashOf((2L, fi)), s"frame $fi")
    // the five distinct patterns must hash distinctly (the fixture's
    // own precondition for the Jaccard arithmetic below)
    val distinct = Seq(hashOf((1L, 0)), hashOf((1L, 1)), hashOf((1L, 2)),
      hashOf((1L, 3)), hashOf((2L, 3)))
    assert(distinct.distinct.length == 5, distinct.mkString(","))
    assert(!out.filter(_.id == 3L).map(_.fhash)
      .exists(h => distinct.contains(h)), "C must share nothing with A/B")

    // the q220 machinery over the REAL postings: planted pair surfaces
    import spark.implicits._
    val postings = spark.createDataset(out.toSeq).toDF()
      .filter(col("decoded"))
      .select(col("id"), col("fhash"))
    val pairs = graft.operators.Dedup
      .frameSetNearDupPairs(postings, tMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(pairs.toSeq == Seq((1L, 2L, 3L, 5L, 600L)), pairs.mkString("|"))
  }

  test("real containers: per-frame quarantine, malformed tails, sampling policy, parity with dHashImages") {
    val f0 = frameBytes("jpg")((x, _) => (8 - x) * 25)
    val f1 = frameBytes("jpg")((x, y) => ((x + y) % 2) * 200)
    // a structurally complete but undecodable "frame": bare SOI+EOI —
    // the splitter yields it, ImageIO refuses it, the ROW quarantines
    // while its siblings decode
    val hollow = Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)
    val midBad = f0 ++ hollow ++ f1
    // a malformed TAIL: complete frame + truncated frame — the complete
    // prefix stands
    val truncated = f0 ++ f1.dropRight(10)
    // not a container at all -> one frameIdx=-1 quarantine row
    val garbage = Array.tabulate[Byte](64)(i => (i * 7).toByte)
    val out = Multimodal.dHashVideoFrames(
      videoOf((1L, midBad), (2L, truncated), (3L, garbage)))
      .collect()
    val v1 = out.filter(_.id == 1L).sortBy(_.frameIdx)
    assert(v1.map(r => (r.frameIdx, r.decoded)).toSeq ==
      Seq((0, true), (1, false), (2, true)), v1.mkString("|"))
    assert(v1(1).fhash == 0L)
    val v2 = out.filter(_.id == 2L)
    assert(v2.map(r => (r.frameIdx, r.decoded)).toSeq == Seq((0, true)),
      v2.mkString("|"))
    val v3 = out.filter(_.id == 3L)
    assert(v3.map(r => (r.frameIdx, r.decoded)).toSeq == Seq((-1, false)),
      v3.mkString("|"))

    // sampling policy: 6 frames, everyNth=2, maxFrames=2 -> frames 0, 2
    val six = f0 ++ f1 ++ f0 ++ f1 ++ f0 ++ f1
    val sampled = Multimodal.dHashVideoFrames(videoOf((4L, six)),
      everyNth = 2, maxFrames = 2).collect()
    assert(sampled.map(_.frameIdx).sorted.toSeq == Seq(0, 2), sampled.mkString("|"))

    // parity: a frame hashed through the video path equals the same
    // bytes hashed through the still-image path (one kernel, two doors)
    val still = Multimodal.dHashImages(mediaOf((9L, f0))).collect().head
    assert(still.decoded && still.dhash == v1(0).fhash)
  }

  test("extractFrames: frame bytes compose with the still-image operators; real postings drive admission") {
    import spark.implicits._
    val a1 = frameBytes("jpg")((x, _) => (8 - x) * 25)
    val a2 = frameBytes("jpg")((x, y) => ((x + y) % 2) * 200)
    val a3 = frameBytes("png")((x, y) => ((x * 2 + y) % 3) * 100)
    val b3 = frameBytes("jpg")((x, y) => ((x + y * 3) % 4) * 60)
    val vidA = a1 ++ a2 ++ a3            // mixed JPEG/PNG container
    val vidB = a1 ++ a2 ++ b3            // shares 2 of its 3 frames with A -> J = 2/4
    val vidC = frameBytes("png")((x, y) => (x * 13 + y * 29) % 256) ++
      frameBytes("png")((x, y) => (x * 29 + y * 13) % 256)

    // extraction -> re-wrap -> still-image hash == the fused video path
    val extracted = Multimodal.extractFrames(
      videoOf((1L, vidA), (2L, vidB), (3L, vidC))).collect()
    assert(extracted.count(_.id == 1L) == 3 && extracted.forall(_.decoded))
    val rewrapped = spark.createDataset(extracted.toSeq.map(f =>
      Multimodal.MediaRow(f.id * 100 + f.frameIdx,
        Multimodal.MediaMeta("image", "frame", f.payload.length.toLong),
        f.payload)))(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val stillHashes = Multimodal.dHashImages(rewrapped).collect()
      .map(r => r.id -> r.dhash).toMap
    val fused = Multimodal.dHashVideoFrames(
      videoOf((1L, vidA), (2L, vidB), (3L, vidC))).collect()
    fused.foreach { f =>
      assert(stillHashes(f.id * 100 + f.frameIdx) == f.fhash,
        s"frame (${f.id}, ${f.frameIdx}): extract+still path diverged from fused path")
    }

    // REAL postings through the registered admission fold: A admitted
    // first (min id), B (J = 2/4 = 0.5 >= threshold vs A) dies, C
    // (disjoint) admitted
    val postings = spark.createDataset(fused.toSeq)
      .filter(col("decoded")).select(col("id"), col("fhash"))
    val dir = java.nio.file.Files.createTempDirectory("mm-realvid").toString
    val admitted = graft.operators.Dedup.videoAdmissionIngest(
      postings.toDF(), dir, "b0", tMilli = 500)
      .select(col("id")).distinct().collect().map(_.getLong(0)).toSet
    assert(admitted == Set(1L, 3L),
      s"real-container admission: expected A+C, got $admitted")
  }

  // -- multimodal streamed admission chain -----------------------------

  test("multimodal streamed admission chain: mixed stream == one-slice batch per modality at two SFs; replay idempotent") {
    import graft.operators.Dedup
    import graft.streaming.MultimodalAdmission
    import graft.streaming.MultimodalAdmission.{FrameCfg, HammingCfg}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext

    def tmpDir(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString

    for ((dir, tag) <- Seq("/root/testdata/sf0.001" -> "a",
        "/root/testdata/sf0.01" -> "b")) {
      // fixtures = the registered query derivations (q204's 64-bit
      // image hashes, q225's 64-bit audio fingerprints, q220 postings)
      val imgAll = graft.queries.MultimodalQueries.imageHashes(spark, dir)
      val audAll = graft.queries.MultimodalQueries.audioFingerprints(spark, dir)
      val vidAll = graft.queries.MultimodalQueries.videoFrameHashes(spark, dir)

      // chunked-greedy == one-slice parity needs a CHAIN-FREE near-dup
      // graph (a kill-chain's survivor set legitimately depends on
      // batch boundaries): drop every entity touching a NATURAL pair
      // (any pair that isn't a planted (base, -base-1) twin), keeping
      // the planted structure intact. At 28 bits naturals exist from
      // sf0.01 up; at the 64-bit audio width they shouldn't — cleaning
      // uniformly keeps the law exact either way.
      def cleanIds(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
        pairs.filter(!(col("id_a") === -col("id_b") - 1) &&
            !(col("id_b") === -col("id_a") - 1))
          .select(explode(array(col("id_a"), col("id_b"))).as("id"))
          .collect().map(_.getLong(0))
          .flatMap(id => Seq(id, -id - 1)).toSet
      val imgDrop = cleanIds(Dedup.hammingNearDupPairs(imgAll,
        bits = 64, bands = 4, maxDist = 3))
      val audDrop = cleanIds(Dedup.hammingNearDupPairs(audAll,
        bits = 64, bands = 4, maxDist = 3))
      val vidDrop = cleanIds(
        Dedup.frameSetNearDupPairs(vidAll, tMilli = 500)
          .select(col("id_a"), col("id_b")))
      def keep(df: org.apache.spark.sql.DataFrame, drop: Set[Long]) =
        if (drop.isEmpty) df
        else df.join(broadcast(drop.toSeq.toDF("id")), Seq("id"), "left_anti")
      val img = keep(imgAll, imgDrop)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val aud = keep(audAll, audDrop)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val vid = keep(vidAll, vidDrop)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

      // one-slice batch targets: the whole cleaned corpus through each
      // fold once, fresh stores
      val (ti, ta, tv) = (tmpDir(s"mm-img-t$tag"), tmpDir(s"mm-aud-t$tag"),
        tmpDir(s"mm-vid-t$tag"))
      val oneImg = Dedup.imageAdmissionIngest(img, ti, "all", 64, 4, 3)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val oneAud = Dedup.audioAdmissionIngest(aud, ta, "all", 64, 4, 3)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      val oneVid = Dedup.videoAdmissionIngest(vid, tv, "all", tMilli = 500)
        .select(col("id")).distinct().collect().map(_.getLong(0)).toSet

      // the mixed stream: (modality, id, key) — image/audio one row
      // per entity, video one row per frame, ENTITY-ATOMIC chunks in
      // ascending id order per modality, modalities interleaved
      val rows: Seq[(String, Long, Seq[(String, Long, Long)])] =
        (img.collect().map(r =>
            ("image", r.getLong(0), Seq(("image", r.getLong(0), r.getLong(1))))) ++
          aud.collect().map(r =>
            ("audio", r.getLong(0), Seq(("audio", r.getLong(0), r.getLong(1))))) ++
          vid.collect().groupBy(_.getLong(0)).toSeq.map { case (id, frs) =>
            ("video", id, frs.toSeq.map(fr => ("video", id, fr.getLong(1))))
          }).sortBy { case (m, id, _) => (id, m) }
      val (si, sa, sv) = (tmpDir(s"mm-img-s$tag"), tmpDir(s"mm-aud-s$tag"),
        tmpDir(s"mm-vid-s$tag"))
      val stream = MemoryStream[(String, Long, Long)]
      val q = stream.toDS().toDF("modality", "id", "key")
        .writeStream
        .foreachBatch(MultimodalAdmission.sink(
          HammingCfg(si, 64, 4, 3), HammingCfg(sa, 64, 4, 3),
          FrameCfg(sv, 500)))
        .option("checkpointLocation", tmpDir(s"mm-ck$tag"))
        .start()
      try {
        rows.grouped(math.max(1, rows.length / 5 + 1)).foreach { chunk =>
          stream.addData(chunk.flatMap(_._3))
          q.processAllAvailable()
        }
      } finally q.stop()

      // parity: streamed store contents == the one-slice admitted sets
      def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
        df.select(col("id")).distinct().collect().map(_.getLong(0)).toSet
      val stImg = ids(graft.sources.DHashStore.load(spark, si))
      val stAud = ids(graft.sources.AudioHashStore.load(spark, sa))
      val stVid = ids(graft.sources.FrameHashStore.load(spark, sv))
      assert(stImg == oneImg, s"$dir image: streamed ${stImg.size} vs " +
        s"one-slice ${oneImg.size}; extra=${(stImg diff oneImg).take(5)} " +
        s"missing=${(oneImg diff stImg).take(5)}")
      assert(stAud == oneAud, s"$dir audio: streamed ${stAud.size} vs " +
        s"one-slice ${oneAud.size}")
      assert(stVid == oneVid, s"$dir video: streamed ${stVid.size} vs " +
        s"one-slice ${oneVid.size}")
      // the planted twins died in every modality (variant XOR base
      // admitted, never both) — for video only twins with >= 3 frames
      // reach J = (n-1)/(n+1) >= 0.5; shorter twins legitimately fall
      // below threshold on both engines (the q220 fixture contract)
      for ((st, name) <- Seq((stImg, "image"), (stAud, "audio")))
        assert(!st.exists(id => id >= 0 && st.contains(-id - 1)),
          s"$dir $name: a base and its planted twin were both admitted")
      val longVids = vid.groupBy(col("id"))
        .agg(countDistinct(col("fhash")).as("nf"))
        .filter(col("nf") >= 3 && col("id") >= 0)
        .select(col("id")).collect().map(_.getLong(0)).toSet
      assert(!stVid.exists(id => id >= 0 && longVids.contains(id) &&
          stVid.contains(-id - 1)),
        s"$dir video: a >=3-frame base and its planted twin were both admitted")

      // replay idempotence: re-ingest the FIRST chunk under its
      // original batch id — stores must not change
      val firstChunk = rows.grouped(math.max(1, rows.length / 5 + 1))
        .next().flatMap(_._3)
      MultimodalAdmission.ingest(
        firstChunk.toDF("modality", "id", "key"), "b000000000",
        HammingCfg(si, 64, 4, 3), HammingCfg(sa, 64, 4, 3), FrameCfg(sv, 500))
      assert(ids(graft.sources.DHashStore.load(spark, si)) == stImg &&
        ids(graft.sources.AudioHashStore.load(spark, sa)) == stAud &&
        ids(graft.sources.FrameHashStore.load(spark, sv)) == stVid,
        s"$dir: replaying batch 0 changed a store")
      img.unpersist(); aud.unpersist(); vid.unpersist()
    }
  }

  test("multimodal admission sink releases each micro-batch's admitted frame") {
    import graft.streaming.MultimodalAdmission
    import graft.streaming.MultimodalAdmission.{FrameCfg, HammingCfg}
    import spark.implicits._
    def tmpDir(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    val sink = MultimodalAdmission.sink(
      HammingCfg(tmpDir("mm-leak-img"), 64, 4, 3),
      HammingCfg(tmpDir("mm-leak-aud"), 64, 4, 3),
      FrameCfg(tmpDir("mm-leak-vid"), 500),
      onAdmitted = df => { df.count(); () })
    // two tiny static micro-batches with every modality present
    val batches = Seq(
      Seq(("image", 1L, 0x0f0fL), ("audio", 2L, 0x3c3cL),
        ("video", 3L, 11L), ("video", 3L, 12L)),
      Seq(("image", 4L, 0x0f0eL), ("audio", 5L, 0x7777L),
        ("video", 6L, 21L)))
    def entries = org.apache.spark.sql.graftbridge.CacheProbe.entries(spark)
    val before = entries
    batches.zipWithIndex.foreach { case (rows, i) =>
      sink(rows.toDF("modality", "id", "key"), i.toLong)
      assert(entries == before,
        s"micro-batch $i left ${entries - before} cache entries")
    }
  }
}
