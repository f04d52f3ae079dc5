package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{AudioFingerprint, AudioFingerprintWitness}
import graft.operators.{Dedup, Multimodal}

/** Acoustic band fingerprinting (temporal band-energy deltas) + the
  * Hamming near-dup machinery over it: kernel == declarative witness
  * == JVM twin, the invariances the fingerprint is FOR (global gain,
  * small local perturbation), the real PCM path's windowing/quarantine
  * contract, and the admission loop over AudioHashStore (the
  * DHashStore discipline: store blocks near-dups, replay idempotent,
  * compaction invisible). */
class AudioHashSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("audio-hash-spec", "4").getOrCreate()
  import spark.implicits._

  private def randMatrix(rnd: scala.util.Random, n: Int): Seq[Int] =
    Seq.fill(n)(rnd.nextInt(256))

  test("audio fingerprint kernel == declarative witness == JVM twin on random matrices") {
    val rnd = new scala.util.Random(224L)
    val mats = (0L until 200L).map(i => (i, randMatrix(rnd, 32)))
    val df = mats.toDF("id", "energies")
    val got = df.select(col("id"),
      AudioFingerprint.bandFingerprint(col("energies"), 8, 4).as("k"),
      AudioFingerprintWitness.bandFingerprintDeclarative(col("energies"), 8, 4).as("d"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val jvm = mats.map { case (i, m) =>
      i -> AudioFingerprint.bandFingerprintJvm(m.toArray, 8, 4)
    }.toMap
    got.foreach { case (i, k, d) =>
      assert(k == d, s"kernel != declarative at $i")
      assert(k == jvm(i), s"kernel != jvm at $i")
    }
    // hand example, 3 windows x 1 band: energies [5, 9, 9] →
    // bit0 (w1 9 > w0 5) = 1, bit1 (w2 9 > w1 9 strict) = 0
    assert(AudioFingerprint.bandFingerprintJvm(Array(5, 9, 9), 3, 1) == 1L)
    // the geometry differs from dHash: same bytes, different adjacency
    // (temporal k vs k+bands, not spatial p vs p+1), so on a matrix
    // where they disagree the two kernels must NOT coincide
    val m = Array(0, 9, 1, 1, 5, 0, 1, 1) ++ Array.fill(24)(3)
    assert(AudioFingerprint.bandFingerprintJvm(m, 8, 4) !=
      graft.functions.ImageHash.dHashGridJvm(m, 7, 4))
  }

  test("fingerprint invariances: global gain is identity; one cell flips <= 2 bits") {
    val rnd = new scala.util.Random(225L)
    for (_ <- 0 until 50) {
      val m = randMatrix(rnd, 32).toArray
      val h = AudioFingerprint.bandFingerprintJvm(m, 8, 4)
      // scaling every band energy preserves every > relation — the
      // loudness-normalization invariance the sign-of-delta encoding
      // buys
      assert(AudioFingerprint.bandFingerprintJvm(m.map(_ * 3), 8, 4) == h)
      assert(AudioFingerprint.bandFingerprintJvm(m.map(_ + 40), 8, 4) == h)
      // one perturbed cell (window t, band b) participates in at most
      // two comparisons: (t-1 -> t) and (t -> t+1) in its own band
      val pos = rnd.nextInt(32)
      val m2 = m.clone(); m2(pos) = rnd.nextInt(256)
      val d = java.lang.Long.bitCount(
        h ^ AudioFingerprint.bandFingerprintJvm(m2, 8, 4))
      assert(d <= 2, s"cell $pos flipped $d bits")
    }
  }

  private def pcmBytes(s: Array[Int]): Array[Byte] = {
    val out = new Array[Byte](s.length * 2)
    s.indices.foreach { i =>
      out(2 * i) = (s(i) & 0xff).toByte
      out(2 * i + 1) = ((s(i) >> 8) & 0xff).toByte
    }
    out
  }

  test("real PCM path: FFT filterbank energies, gain invariance, short-payload quarantine") {
    // 256 samples -> 8 windows of 32 (power of two: no padding), bins
    // 1..16 per window, 4 bands of 4 bins
    val rnd = new scala.util.Random(226L)
    val samples = Array.fill(256)(rnd.nextInt(3200) - 1600)
    def media(id: Long, payload: Array[Byte]) = Multimodal.MediaRow(
      id, Multimodal.MediaMeta("audio", "fake-pcm", payload.length.toLong),
      payload)
    val rows = spark.createDataset(Seq(
      media(1L, pcmBytes(samples)),
      media(2L, pcmBytes(samples.map(_ * 2))), // exact 2x gain
      media(3L, Array[Byte](1, 2, 3))          // too short -> quarantine
    ))(org.apache.spark.sql.Encoders.product[Multimodal.MediaRow])
    val got = Multimodal.fingerprintAudio(rows, frames = 8, bands = 4)
      .collect().map(r => r.id -> ((r.decoded, r.afp))).toMap
    assert(got(1L)._1 && got(2L)._1 && !got(3L)._1, got.toString)
    assert(got(3L)._2 == 0L, "quarantined row carries fingerprint 0")
    // doubling every sample scales every |X_k|² by EXACTLY 4 (powers of
    // two commute with IEEE-754 rounding), so every energy comparison's
    // sign survives the gain — the loudness invariance the
    // sign-of-delta fingerprint exists to provide
    assert(got(1L)._2 == got(2L)._2,
      s"gain changed the fingerprint: ${got(1L)._2} vs ${got(2L)._2}")
    // JVM parity: the mapPartitions path equals the hand computation
    val energies = Multimodal.pcmSpectralBandEnergies(
      Multimodal.pcmSamples(pcmBytes(samples)), 8, 4)
    assert(got(1L)._2 ==
      AudioFingerprint.bandFingerprintJvm(energies, 8, 4))
  }

  test("the filterbank is actually spectral: tones land in their bands; one perturbed window flips <= 2*bands bits") {
    // pure tones at exact bin frequencies (window 32, period divides
    // 32 -> zero leakage): bin 2 lives in band 0 (bins 1-4), bin 7 in
    // band 1 (5-8), bin 14 in band 3 (13-16). The retired polyphase
    // stand-in (mean |sample| over positions ≡ b mod bands) spreads any
    // tone across ALL bands — this concentration witness is what
    // separates a real spectral transform from it.
    def tone(bin: Int): Array[Int] =
      Array.tabulate(256)(n =>
        StrictMath.floor(16000.0 *
          StrictMath.cos(2.0 * StrictMath.PI * bin * (n % 32) / 32.0)).toInt)
    for ((bin, band) <- Seq((2, 0), (7, 1), (14, 3))) {
      val e = Multimodal.pcmSpectralBandEnergies(tone(bin), 8, 4)
      for (t <- 0 until 8; b <- 0 until 4 if b != band)
        assert(e(t * 4 + band) > 100L * math.max(1, e(t * 4 + b)),
          s"bin $bin window $t: band $band energy ${e(t * 4 + band)} " +
            s"not dominant over band $b (${e(t * 4 + b)})")
    }

    // locality law over the FFT energies: perturbing ONE window touches
    // only that window's row of the energy matrix, whose `bands` cells
    // each participate in <= 2 temporal comparisons -> <= 2*bands bits
    val rnd = new scala.util.Random(227L)
    val base = Array.fill(256)(rnd.nextInt(3200) - 1600)
    val h0 = AudioFingerprint.bandFingerprintJvm(
      Multimodal.pcmSpectralBandEnergies(base, 8, 4), 8, 4)
    for (w <- Seq(0, 3, 7)) {
      val mut = base.clone()
      for (i <- w * 32 until (w + 1) * 32) mut(i) = rnd.nextInt(3200) - 1600
      val h1 = AudioFingerprint.bandFingerprintJvm(
        Multimodal.pcmSpectralBandEnergies(mut, 8, 4), 8, 4)
      val d = java.lang.Long.bitCount(h0 ^ h1)
      assert(d <= 8, s"window $w perturbation flipped $d bits (> 2*bands)")
    }
  }

  test("audio admission ingest: store blocks near-dups across batches, replay idempotent, compaction invisible") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audiohash-store").toString
    val rnd = new scala.util.Random(227L)
    val b0 = (0L until 50L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    val nearOfStore = (100L, b0(7)._2 ^ (1L << 3))
    val dupA = (101L, 0x1234567L)
    val dupB = (102L, 0x1234567L)
    val fresh = (110L until 120L).map(i => (i, rnd.nextLong() & 0xfffffffL))
    val b1 = Seq(nearOfStore, dupA, dupB) ++ fresh
    def ingest(rows: Seq[(Long, Long)], id: String) =
      Dedup.audioAdmissionIngest(rows.toDF("id", "hash"), dir, id,
        bits = 28, bands = 4, maxDist = 3)
        .collect().map(_.getLong(0)).toSet
    val a0 = ingest(b0, "b0")
    val a1 = ingest(b1, "b1")
    assert(!a1.contains(100L), "near-copy of a stored fingerprint must be rejected")
    assert(a1.contains(101L) && !a1.contains(102L),
      "within-batch exact dup: min id survives")
    assert(fresh.map(_._1).toSet.subsetOf(a1), "fresh fingerprints admitted")
    val a1r = ingest(b1, "b1")
    assert(a1r == a1, "replay must be idempotent")
    val storeIds = graft.sources.AudioHashStore.load(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(storeIds == a0 ++ a1, "store = union of admitted batches")
    assert(graft.sources.AudioHashStore.compact(spark, dir) >= 1)
    val after = graft.sources.AudioHashStore.load(spark, dir)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(after == storeIds, "compaction must be invisible")
    val a2 = ingest(Seq((200L, dupA._2)), "b2")
    assert(a2.isEmpty, "later exact copy of an admitted fingerprint must reject")
  }

  test("audio admission sink: streamed fingerprints admit exactly-once through AudioHashStore") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sql = spark.sqlContext
    val dir = java.nio.file.Files
      .createTempDirectory("graft-audiohash-sink").toString
    val stream = MemoryStream[(Long, Long)]
    val q = stream.toDS().toDF("id", "hash").writeStream
      .foreachBatch(Dedup.audioAdmissionSink(dir, bits = 28, bands = 4,
        maxDist = 3))
      .outputMode("append").start()
    try {
      stream.addData((1L, 0x111L), (2L, 0x222L))
      q.processAllAvailable()
      // 3 is a near-copy of stored 1 (1 bit); 4 is fresh
      stream.addData((3L, 0x111L ^ 1L), (4L, 0xf0f0fL))
      q.processAllAvailable()
      val ids = graft.sources.AudioHashStore.load(spark, dir)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 4L), ids.toString)
    } finally q.stop()
  }
}
