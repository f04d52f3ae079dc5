package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

import graft.core.Materialize
import graft.operators.Dedup

/** ONE streamed admission chain for a MIXED-modality ingest — the
  * composition of the three per-modality admission folds
  * ([[Dedup.imageAdmissionIngest]], [[Dedup.audioAdmissionIngest]],
  * [[Dedup.videoAdmissionIngest]]) behind a single foreachBatch sink,
  * mirroring the text curation chain's streamed story (StreamingSpec's
  * q218 soak) for the perceptual-hash modalities.
  *
  * Input stream schema: (modality, id, key) — one row per entity for
  * image/audio (`key` = the 64/28-bit perceptual hash / band
  * fingerprint), one row per FRAME for video (`key` = the frame dHash;
  * an entity is its key-set). Each micro-batch splits by modality and
  * runs that modality's registered admission fold against its own
  * store; a modality absent from a batch is a no-op for its store.
  *
  * Contracts (all inherited from the underlying folds, restated here
  * because the mixed stream makes them easy to violate):
  *   - **Entity atomicity (video)**: ALL of a video's frame rows must
  *     arrive in the SAME micro-batch — the incremental fold treats
  *     batch and store id spaces as disjoint, so an entity split
  *     across batches would re-enter against its own earlier half.
  *     Batch sources by entity, not by row count.
  *   - **Replay idempotence**: each fold keys its delta by batchId and
  *     re-decides against the store WITHOUT that delta, so a retried
  *     micro-batch overwrites itself — per modality, exactly-once.
  *   - **Isolation**: modalities share nothing but the batch frame;
  *     each store admits independently (an image near-dup never blocks
  *     an audio admit). Id spaces need only be unique WITHIN a
  *     modality.
  */
object MultimodalAdmission {

  /** Hamming-admission config for a single-hash modality
    * (image/audio). */
  final case class HammingCfg(dir: String, bits: Int, bands: Int,
      maxDist: Int)

  /** Frame-set-admission config for the video modality. */
  final case class FrameCfg(dir: String, tMilli: Int)

  /** One admission pass over a static mixed-modality batch — the unit
    * the streaming sink applies per micro-batch, exposed for one-slice
    * batch-parity witnesses. Returns the admitted (modality, id) rows
    * (video collapsed to one row per admitted entity). */
  def ingest(batch: DataFrame, batchId: String, image: HammingCfg,
      audio: HammingCfg, video: FrameCfg): DataFrame = Materialize.scope { m =>
    val b = m.keep(batch.select(col("modality"), col("id"), col("key")))
    val img = b.filter(col("modality") === "image")
      .select(col("id"), col("key").as("hash"))
    val aud = b.filter(col("modality") === "audio")
      .select(col("id"), col("key").as("hash"))
    val vid = b.filter(col("modality") === "video")
      .select(col("id"), col("key").as("fhash"))
    val admittedImg = Dedup.imageAdmissionIngest(img, image.dir, batchId,
      image.bits, image.bands, image.maxDist)
      .select(lit("image").as("modality"), col("id"))
    val admittedAud = Dedup.audioAdmissionIngest(aud, audio.dir, batchId,
      audio.bits, audio.bands, audio.maxDist)
      .select(lit("audio").as("modality"), col("id"))
    val admittedVid = Dedup.videoAdmissionIngest(vid, video.dir, batchId,
      video.tMilli)
      .select(lit("video").as("modality"), col("id")).distinct()
    // the folds have already appended their deltas (side effect);
    // materialize the detached admitted union while the batch is
    // still kept, so the returned frame never recomputes the
    // anti-joins against a released input
    val out = Materialize.detached(
      admittedImg.unionByName(admittedAud).unionByName(admittedVid))
    out.count()
    out
  }

  /** foreachBatch sink over a (modality, id, key) stream. `onAdmitted`
    * observes each micro-batch's admitted (modality, id) rows (stats,
    * routing); default discards them — the stores are the durable
    * output. The admitted frame is released once `onAdmitted`
    * returns, so the callback must consume it (collect, write) rather
    * than keep it for later. */
  def sink(image: HammingCfg, audio: HammingCfg, video: FrameCfg,
      onAdmitted: DataFrame => Unit = _ => ())
      : (Dataset[Row], Long) => Unit =
    (batch, batchId) =>
      if (!batch.isEmpty) {
        val admitted =
          ingest(batch.toDF(), f"b$batchId%09d", image, audio, video)
        try onAdmitted(admitted) finally Materialize.release(admitted)
      }
}
