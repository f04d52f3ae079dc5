package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{ImageHash, ImageHashWitness}
import graft.operators.{Dedup, Multimodal}

/** Perceptual image hashing (dHash) + Hamming-band near-dup pairing:
  * kernel == declarative witness, the dHash invariances the operator
  * is FOR (brightness shift, small local perturbation), band-join
  * completeness against an all-pairs witness, the hot-bucket guardrail,
  * and the real JDK-ImageIO path over generated PNG fixtures. */
class ImageHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("image-hash-spec", "4").getOrCreate()
  import spark.implicits._

  private def randGrid(rnd: scala.util.Random, n: Int): Seq[Int] =
    Seq.fill(n)(rnd.nextInt(256))

  test("dHash kernel == declarative witness == JVM twin on random grids") {
    val rnd = new scala.util.Random(203L)
    val grids = (0L until 200L).map(i => (i, randGrid(rnd, 32)))
    val df = grids.toDF("id", "grid")
    val got = df.select(col("id"),
      ImageHash.dHashGrid(col("grid"), 7, 4).as("k"),
      ImageHashWitness.dHashGridDeclarative(col("grid"), 7, 4).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val jvm = grids.map { case (i, g) =>
      i -> ImageHash.dHashGridJvm(g.toArray, 7, 4)
    }.toMap
    got.foreach { case (i, k, d) =>
      assert(k == d, s"kernel != declarative at $i")
      assert(k == jvm(i), s"kernel != jvm at $i")
    }
    // hand example on a 3-wide × 1-tall grid (gw = 2): [5, 9, 9] →
    // bit0 (9 > 5) = 1, bit1 (9 > 9 strict) = 0
    assert(ImageHash.dHashGridJvm(Array(5, 9, 9), 2, 1) == 1L)
  }

  test("dHash invariances: brightness shift is identity; one cell flips <= 2 bits") {
    val rnd = new scala.util.Random(204L)
    for (_ <- 0 until 50) {
      val g = randGrid(rnd, 32).toArray
      val h = ImageHash.dHashGridJvm(g, 7, 4)
      // global brightness shift preserves every > relation
      assert(ImageHash.dHashGridJvm(g.map(_ + 40), 7, 4) == h)
      // one perturbed cell participates in at most two comparisons
      val pos = rnd.nextInt(32)
      val g2 = g.clone(); g2(pos) = rnd.nextInt(256)
      val d = java.lang.Long.bitCount(h ^ ImageHash.dHashGridJvm(g2, 7, 4))
      assert(d <= 2, s"cell $pos flipped $d bits")
    }
  }

  test("hammingNearDupPairs == all-pairs witness (band completeness for d < bands)") {
    val rnd = new scala.util.Random(205L)
    // random 28-bit hashes + planted near-dups at distances 0..3
    val base = (0L until 300L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    val planted = (0 until 4).map { d =>
      val (id, h) = base(d * 7)
      var h2 = h
      (0 until d).foreach(k => h2 ^= 1L << ((k * 9 + d) % 28))
      (1000L + id, h2)
    }
    val all = base ++ planted
    val witness = (for {
      (ia, ha) <- all; (ib, hb) <- all if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 3
    } yield (ia, ib, d.toLong)).toSet
    val got = Dedup.hammingNearDupPairs(all.toDF("id", "hash"),
      bits = 28, bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == witness,
      s"extra=${got -- witness} missing=${witness -- got}")
    assert(planted.indices.forall { d =>
      witness.exists(p => p._2 == 1000L + base(d * 7)._1)
    }, "every planted near-dup must pair")
    // the completeness precondition is enforced, not assumed
    intercept[IllegalArgumentException] {
      Dedup.hammingNearDupPairs(all.toDF("id", "hash"),
        bits = 28, bands = 4, maxDist = 4)
    }
  }

  test("hot-bucket cap: capped bucket drops its candidates; differing pairs survive via other bands") {
    // all 50 hashes share band 0 (low 7 bits = 0x55) → that bucket is
    // hot at cap 10. ids 0/1 ALSO share band 3 (not hot: population 2)
    // at Hamming distance 1 → must survive the cap through it; ids
    // 10/11 are at distance 3 but share ONLY the hot band → the cap
    // drops exactly that pair
    val hs = (0L until 50L).map { i =>
      val (b1, b2, b3) =
        if (i == 0L) (0x01L, 0x00L, 0x07L)
        else if (i == 1L) (0x03L, 0x00L, 0x07L)
        else if (i == 10L) (0x10L, 0x20L, 0x40L)
        else if (i == 11L) (0x11L, 0x21L, 0x41L)
        else (i % 128, (i * 17) % 128, (i * 31 + 5) % 128)
      (i, 0x55L | (b1 << 7) | (b2 << 14) | (b3 << 21))
    }
    assert(java.lang.Long.bitCount(hs(0)._2 ^ hs(1)._2) == 1)
    assert(java.lang.Long.bitCount(hs(10)._2 ^ hs(11)._2) == 3)
    val capped = Dedup.hammingNearDupPairs(hs.toDF("id", "hash"),
      bits = 28, bands = 4, maxDist = 3, maxBucketSize = Some(10))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.hammingNearDupPairs(hs.toDF("id", "hash"),
      bits = 28, bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped))
    assert(capped.contains((0L, 1L)),
      "pair sharing an un-hot band must survive the cap")
    assert(uncapped.contains((10L, 11L)) && !capped.contains((10L, 11L)),
      "pair sharing only the hot band must be the cap's accounted loss")
  }

  test("incrementalHammingPairs == cross-side all-pairs witness; store side never broadcasts") {
    val rnd = new scala.util.Random(207L)
    val store = (0L until 200L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    // batch: fresh hashes + planted near-copies of three store docs
    val batch = (1000L until 1150L).map(i => (i, rnd.nextLong() & 0xfffffffL)) ++
      Seq(0, 1, 2).map { d =>
        val (sid, h) = store(d * 11)
        (2000L + sid, h ^ (1L << (d * 5 + 1)) ^ (if (d > 0) 1L << 20 else 0L))
      }
    val witness = (for {
      (nid, nh) <- batch; (sid, sh) <- store
      dd = java.lang.Long.bitCount(nh ^ sh) if dd <= 3
    } yield (nid, sid, dd.toLong)).toSet
    val got = Dedup.incrementalHammingPairs(batch.toDF("id", "hash"),
      store.toDF("id", "hash"), bits = 28, bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == witness, s"extra=${got -- witness} missing=${witness -- got}")
    assert(witness.size >= 3, "planted near-copies must pair")
    val plan = Dedup.incrementalHammingPairs(batch.toDF("id", "hash"),
      store.toDF("id", "hash"), bits = 28, bands = 4, maxDist = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"store-shaped side broadcast:\n$plan")
  }

  test("image admission ingest: store blocks near-dups across batches, replay idempotent, compaction invisible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dhash-store").toString
    val rnd = new scala.util.Random(208L)
    val b0 = (0L until 50L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    // batch 1: new hashes + a near-copy of b0(7) + an exact within-batch
    // dup pair (min id must survive)
    val nearOfStore = (100L, b0(7)._2 ^ (1L << 3))
    val dupA = (101L, 0x1234567L)
    val dupB = (102L, 0x1234567L)
    val fresh = (110L until 120L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    val b1 = Seq(nearOfStore, dupA, dupB) ++ fresh
    def ingest(rows: Seq[(Long, Long)], id: String) =
      Dedup.imageAdmissionIngest(rows.toDF("id", "hash"), dir, id,
        bits = 28, bands = 4, maxDist = 3)
        .collect().map(_.getLong(0)).toSet
    val a0 = ingest(b0, "b0")
    assert(a0.size + (for {
      (ia, ha) <- b0; (ib, hb) <- b0 if ia < ib
      if java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield ib).toSet.size == 50, "batch 0 admits all but within-batch dups")
    val a1 = ingest(b1, "b1")
    assert(!a1.contains(100L), "near-copy of a stored hash must be rejected")
    assert(a1.contains(101L) && !a1.contains(102L),
      "within-batch exact dup: min id survives")
    assert(fresh.map(_._1).toSet.subsetOf(a1), "fresh hashes admitted")
    // replay of batch 1 overwrites its own delta: same admissions, and
    // the 101-vs-replayed-101 pair never self-rejects
    val a1r = ingest(b1, "b1")
    assert(a1r == a1, "replay must be idempotent")
    val storeIds = graft.sources.DHashStore.load(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(storeIds == a0 ++ a1, "store = union of admitted batches")
    // compaction folds deltas without changing membership
    assert(graft.sources.DHashStore.compact(spark, dir) >= 1)
    val after = graft.sources.DHashStore.load(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(after == storeIds, "compaction must be invisible")
    // batch 2 is still gated by batch-1 admissions
    val a2 = ingest(Seq((200L, dupA._2)), "b2")
    assert(a2.isEmpty, "later exact copy of an admitted hash must reject")
  }

  test("frame-set pairs: cap gates candidates only (full-set verify); duplicate postings are set-semantic") {
    // hot hash 999 held by 150 videos; A and B share it plus 2 of 4
    // others: TRUE J = 3/5 = 600 >= 500. With cap = 100 the hot hash
    // drops from candidate generation, but A-B still candidate via
    // hashes 1/2 and MUST verify with the true intersection (3), not
    // the capped one (2, J = 333 — which would silently drop the pair)
    val hotCrowd = (1L to 150L).map(i => (i, 999L))
    val ab = Seq((200L, 999L), (200L, 1L), (200L, 2L), (200L, 50L),
      (201L, 999L), (201L, 1L), (201L, 2L), (201L, 60L))
    val p = (hotCrowd ++ ab).toDF("id", "fhash")
    val capped = Dedup.frameSetNearDupPairs(p, tMilli = 500,
      maxPostingSize = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(capped.toSeq == Seq((200L, 201L, 3L, 5L, 600L)),
      capped.mkString(", "))
    // duplicate (id, fhash) rows (two frames hashing alike) must count
    // once: multiplicity-counting would give inter=4, un=0 here — a
    // division by zero — instead of the set answer J = 1000
    val dup = Seq((300L, 7L), (300L, 7L), (300L, 8L),
      (301L, 7L), (301L, 8L), (301L, 8L)).toDF("id", "fhash")
    val got = Dedup.frameSetNearDupPairs(dup, tMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((300L, 301L, 2L, 2L, 1000L)), got.mkString(", "))
    // same laws on the incremental (batch x store) form
    val inc = Dedup.incrementalFrameSetPairs(
      Seq((400L, 7L), (400L, 7L), (400L, 8L)).toDF("id", "fhash"),
      dup.filter(col("id") === 301L), tMilli = 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    assert(inc.toSeq == Seq((400L, 301L, 1000L)), inc.mkString(", "))
    val incCapped = Dedup.incrementalFrameSetPairs(
      Seq((500L, 999L), (500L, 1L), (500L, 2L), (500L, 50L)).toDF("id", "fhash"),
      (hotCrowd ++ ab.filter(_._1 == 201L)).toDF("id", "fhash"),
      tMilli = 500, maxPostingSize = Some(100))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(incCapped.toSeq == Seq((500L, 201L, 3L, 5L, 600L)),
      incCapped.mkString(", "))
    // caller-supplied hot set (hotFrameKeys) == internal cap: the
    // operator and its accounting can provably share ONE hot set
    val viaKeys = Dedup.frameSetNearDupPairs(p, tMilli = 500,
      hotFrameKeys = Some(Dedup.hotFrameHashes(p, cap = 100)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(viaKeys.toSeq == capped.toSeq, viaKeys.mkString(", "))
    val incViaKeys = Dedup.incrementalFrameSetPairs(
      Seq((500L, 999L), (500L, 1L), (500L, 2L), (500L, 50L)).toDF("id", "fhash"),
      (hotCrowd ++ ab.filter(_._1 == 201L)).toDF("id", "fhash"),
      tMilli = 500, hotFrameKeys = Some(Dedup.hotFrameHashes(
        (hotCrowd ++ ab.filter(_._1 == 201L) ++
          Seq((500L, 999L), (500L, 1L), (500L, 2L), (500L, 50L)))
          .toDF("id", "fhash"), cap = 100)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    assert(incViaKeys.toSeq == incCapped.toSeq, incViaKeys.mkString(", "))
    // the cap's loss is ACCOUNTED, not silent: hotFrameHashes reports
    // exactly the hashes the capped form dropped from candidate
    // generation, with distinct-entity populations (duplicate postings
    // count once — the same set semantics the pair operators enforce)
    val hot = Dedup.hotFrameHashes(
      p.unionAll(Seq((999L, 999L), (999L, 999L)).toDF("id", "fhash")),
      cap = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hot.toSeq == Seq((999L, 153L)), hot.mkString(", "))
    assert(Dedup.hotFrameHashes(p, cap = 200).collect().isEmpty,
      "no hash over a loose cap")
  }

  test("video admission ingest: frame-set store blocks near-dups, replay idempotent, compaction invisible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-framehash-store").toString
    def postings(sets: (Long, Seq[Long])*) =
      sets.flatMap { case (id, hs) => hs.map(h => (id, h)) }
        .toDF("id", "fhash")
    def ingest(sets: Seq[(Long, Seq[Long])], bid: String) =
      Dedup.videoAdmissionIngest(postings(sets: _*), dir, bid, tMilli = 500)
        .select("id").distinct().collect().map(_.getLong(0)).toSet
    // store: 5 disjoint 4-frame videos
    val b0 = (1L to 5L).map(i => i -> (1L to 4L).map(i * 10L + _))
    assert(ingest(b0, "b0") == (1L to 5L).toSet)
    // batch 1: near-dup of stored video 2 (3 of 5 union = 600 permille),
    // a within-batch identical pair (min id survives), a BELOW-threshold
    // overlap (2 of 6 = 333), and a fresh video
    val b1 = Seq(
      100L -> Seq(21L, 22L, 23L, 901L),        // J vs v2 = 3/5 -> reject
      101L -> Seq(910L, 911L),                  // dup pair: min id
      102L -> Seq(910L, 911L),                  //   -> reject
      300L -> Seq(31L, 32L, 950L, 951L),        // J vs v3 = 2/6 -> admit
      110L -> Seq(960L, 961L, 962L, 963L))      // fresh -> admit
    val a1 = ingest(b1, "b1")
    assert(a1 == Set(101L, 300L, 110L), a1.toString)
    assert(ingest(b1, "b1") == a1, "replay must be idempotent")
    val storeIds = graft.sources.FrameHashStore.load(spark, dir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(storeIds == (1L to 5L).toSet ++ a1, storeIds.toString)
    assert(graft.sources.FrameHashStore.compact(spark, dir) >= 1)
    val after = graft.sources.FrameHashStore.load(spark, dir)
      .select("id").distinct().collect().map(_.getLong(0)).toSet
    assert(after == storeIds, "compaction must be invisible")
    // a later copy of a batch-1 ADMISSION is gated by it
    assert(ingest(Seq(200L -> Seq(960L, 961L, 962L, 963L)), "b2").isEmpty)
    // the incremental pair derivation itself never broadcasts the store
    val plan = Dedup.incrementalFrameSetPairs(
      postings(100L -> Seq(21L, 22L)),
      graft.sources.FrameHashStore.load(spark, dir), tMilli = 500)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastHashJoin"),
      s"store-shaped side broadcast:\n$plan")
  }

  test("streaming image admission: micro-batches gate against everything previously admitted") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dhash-stream").toString
    val rnd = new scala.util.Random(209L)
    val stream = MemoryStream[(Long, Long)]
    val q = stream.toDS().toDF("id", "hash").writeStream
      .foreachBatch(Dedup.imageAdmissionSink(dir, bits = 28, bands = 4,
        maxDist = 3))
      .outputMode("append").start()
    val base = (0L until 30L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    try {
      stream.addData(base)
      q.processAllAvailable()
      // batch 2: a 1-bit near-copy of an admitted hash + fresh rows
      stream.addData(Seq((500L, base(11)._2 ^ (1L << 9)),
        (501L, rnd.nextLong() & 0xfffffffL)))
      q.processAllAvailable()
      // batch 3: a near-copy of a BATCH-2 admission — cross-batch state
      stream.addData(Seq((600L, 0L), (601L, 1L << 4)))
      q.processAllAvailable()
      stream.addData(Seq((700L, base(11)._2), (701L, 1L << 4 ^ 1L << 9)))
      q.processAllAvailable()
    } finally q.stop()
    val ids = graft.sources.DHashStore.load(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(500L), "near-copy of batch-1 admission rejected")
    assert(ids.contains(501L))
    assert(ids.contains(600L) && !ids.contains(601L),
      "within-batch near-dup (d=1): min id survives")
    assert(!ids.contains(700L), "exact copy of a stored hash rejected")
    assert(!ids.contains(701L), "2-bit copy of a batch-3 admission rejected")
    assert(base.map(_._1).toSet.subsetOf(ids) ||
      base.map(_._1).toSet.diff(ids).forall(i =>
        base.exists(b => b._1 < i &&
          java.lang.Long.bitCount(b._2 ^ base(i.toInt)._2) <= 3)),
      "batch-1 rows admitted unless within-batch near-dups")
  }

  test("real ImageIO path: same PNG hashes equal, brightness shift near, distinct far") {
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(64, 48,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 48; x <- 0 until 64) {
        val v = f(x, y) & 0xff
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val gradient = png((x, y) => x * 3 + y)
    val brighter = png((x, y) => math.min(255, x * 3 + y + 25))
    val stripes = png((x, _) => if ((x / 8) % 2 == 0) 230 else 10)
    val rows = Seq(
      Multimodal.MediaRow(1L,
        Multimodal.MediaMeta("image", "png", gradient.length.toLong), gradient),
      Multimodal.MediaRow(2L,
        Multimodal.MediaMeta("image", "png", brighter.length.toLong), brighter),
      Multimodal.MediaRow(3L,
        Multimodal.MediaMeta("image", "png", stripes.length.toLong), stripes),
      Multimodal.MediaRow(4L,
        Multimodal.MediaMeta("image", "bad", 3L), Array[Byte](1, 2, 3)))
    val ds = spark.createDataset(rows)(
      org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val got = Multimodal.dHashImages(ds).collect()
      .map(r => r.id -> r).toMap
    assert(!got(4L).decoded, "junk payload must quarantine, not fail")
    assert(got(1L).decoded && got(2L).decoded && got(3L).decoded)
    val d12 = java.lang.Long.bitCount(got(1L).dhash ^ got(2L).dhash)
    val d13 = java.lang.Long.bitCount(got(1L).dhash ^ got(3L).dhash)
    assert(d12 <= 3, s"brightness shift moved the hash by $d12 bits")
    assert(d13 > 10, s"distinct images only $d13 bits apart")
    // determinism: decoding the same bytes twice gives the same hash
    val again = Multimodal.dHashImages(ds).collect()
      .map(r => r.id -> r.dhash).toMap
    assert(rows.map(_.id).forall(id => again(id) == got(id).dhash))
    // end-to-end: the 64-bit real-path hashes ride the SAME band join
    // (bits = 64, 8 bands of 8 — the hash is an opaque bit pattern,
    // sign included); the gradient/brighter near-pair surfaces, the
    // stripes image does not
    val hashes = Multimodal.dHashImages(ds).filter(_.decoded)
      .toDF().select(col("id"), col("dhash").as("hash"))
    val pairs = Dedup.hammingNearDupPairs(hashes, bits = 64, bands = 8,
      maxDist = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"near pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"distinct image paired: $pairs")
  }
}
