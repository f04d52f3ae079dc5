package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/
  * video payloads travel as opaque `binary` columns with a typed metadata
  * struct; decode / feature-extract / resize / frame-sample run as
  * partition-batched transforms.
  *
  * The Scala-idiomatic equivalent of Python's `mapInPandas` is
  * `Dataset.mapPartitions` with a product encoder: one JVM call per
  * partition, rows streamed through an iterator (never materialized
  * whole), output schema declared by the case class. At 100 TB the
  * decode cost dominates — this shape keeps it embarrassingly parallel,
  * pipelined with the scan, with no shuffle before or after.
  *
  * STUB NOTE: real codecs (JPEG/PNG/ffmpeg) are not in this container, so
  * [[FakeCodec]] is a clearly-marked deterministic stand-in: it "decodes"
  * a payload into dimensions + a byte-statistics feature vector derived
  * only from the bytes. The Spark-side plumbing — schema, batching,
  * partition mapping, metadata propagation — is real and tested; swapping
  * FakeCodec for a JNI/ffi codec changes no plan shape.
  */
object Multimodal {

  /** Typed metadata carried alongside the opaque payload. */
  final case class MediaMeta(
      mediaType: String, // image | audio | video
      format: String,    // fake-rgb | fake-pcm | ...
      sizeBytes: Long)

  final case class MediaRow(id: Long, meta: MediaMeta, payload: Array[Byte])

  final case class DecodedRow(
      id: Long,
      mediaType: String,
      sizeBytes: Long,
      width: Int,
      height: Int,
      byteSum: Long,
      features: Array[Float])

  /** Deterministic fake codec — replace with a real decoder in production.
    * Width/height derive from the first 4 bytes; the feature vector is a
    * 16-bin byte histogram normalized to [0,1]. */
  object FakeCodec {
    def decode(payload: Array[Byte]): (Int, Int, Long, Array[Float]) = {
      val w = 1 + (java.lang.Byte.toUnsignedInt(payload(0)) << 4 |
        java.lang.Byte.toUnsignedInt(payload(1)) >> 4)
      val h = 1 + (java.lang.Byte.toUnsignedInt(payload(2)) << 4 |
        java.lang.Byte.toUnsignedInt(payload(3)) >> 4)
      var sum = 0L
      val hist = new Array[Float](16)
      payload.foreach { b =>
        val u = java.lang.Byte.toUnsignedInt(b)
        sum += u
        hist(u >> 4) += 1f
      }
      val n = payload.length.toFloat
      (w, h, sum, hist.map(_ / n))
    }
  }

  /** A REAL image codec over the same plumbing: `javax.imageio` ships in
    * the JDK (PNG/JPEG/GIF/BMP via the ImageIO service registry), so the
    * decode/resize path needs no external dependency. FakeCodec stays as
    * the deterministic stand-in for the ORACLE rows (q37/q52 hash the
    * byte-derived fake features, which any engine reproduces); this codec
    * is what a production deployment actually runs, spec'd against
    * real PNG/JPEG fixtures. */
  object ImageIoCodec {
    /** Decode an image payload into (width, height, luminance sum,
      * 16-bin luminance histogram normalized to [0,1]). None for
      * payloads ImageIO cannot parse — a real pipeline quarantines
      * those rather than failing the task. */
    def decode(payload: Array[Byte]): Option[(Int, Int, Long, Array[Float])] = {
      val img = try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Float](16)
        var sum = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            // integer Rec.601 luma — deterministic across JVMs
            val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
              (rgb & 0xFF) * 114) / 1000
            sum += lum
            hist(lum >> 4) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        Some((w, h, sum, hist.map(_ / n)))
      }
    }

    /** Aspect-preserving bilinear resize into a `maxDim` box (never
      * upscales), re-encoded as PNG. None if the payload doesn't parse. */
    def resize(payload: Array[Byte], maxDim: Int): Option[Array[Byte]] = {
      require(maxDim > 0, "maxDim must be positive")
      val img = try javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => null }
      if (img == null) None
      else {
        val scale = math.min(1.0,
          maxDim.toDouble / math.max(img.getWidth, img.getHeight))
        val w = math.max(1, math.floor(img.getWidth * scale).toInt)
        val h = math.max(1, math.floor(img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, w, h, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(bos.toByteArray)
      }
    }
  }

  /** [[decodeAndFeaturize]] with the REAL codec: same mapPartitions
    * shape (per-partition init, rows streamed), JDK ImageIO decode.
    * Undecodable rows emit `decoded = false` with zeroed features so
    * the caller's quarantine policy — not a task failure — decides
    * their fate. */
  final case class DecodedImageRow(
      id: Long, mediaType: String, sizeBytes: Long, decoded: Boolean,
      width: Int, height: Int, lumaSum: Long, features: Array[Float])

  def decodeImages(media: Dataset[MediaRow]): Dataset[DecodedImageRow] = {
    implicit val enc = Encoders.product[DecodedImageRow]
    media.mapPartitions { rows =>
      // per-partition init: ImageIO's disk cache is pure overhead for
      // byte-array sources, and this is exactly the once-per-partition
      // hook a JNI codec would use for its context setup
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        ImageIoCodec.decode(r.payload) match {
          case Some((w, h, sum, feats)) =>
            DecodedImageRow(r.id, r.meta.mediaType, r.meta.sizeBytes,
              decoded = true, w, h, sum, feats)
          case None =>
            DecodedImageRow(r.id, r.meta.mediaType, r.meta.sizeBytes,
              decoded = false, 0, 0, 0L, Array.empty[Float])
        }
      }
    }
  }

  /** Real aspect-preserving resize over the partition-batched shape:
    * payload replaced by the re-encoded PNG, metadata updated to match.
    * Undecodable rows pass through UNCHANGED (same quarantine stance as
    * [[decodeImages]] — their original format field still says what
    * they claimed to be). */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int): Dataset[MediaRow] = {
    implicit val enc = Encoders.product[MediaRow]
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        ImageIoCodec.resize(r.payload, maxDim) match {
          case Some(bytes) =>
            MediaRow(r.id,
              MediaMeta(r.meta.mediaType, "png", bytes.length.toLong), bytes)
          case None => r
        }
      }
    }
  }

  /** Decode + feature-extract as a partition-batched transform. */
  def decodeAndFeaturize(media: Dataset[MediaRow]): Dataset[DecodedRow] = {
    implicit val enc = Encoders.product[DecodedRow]
    media.mapPartitions { rows =>
      // per-partition batch: codec state (real codecs have expensive init)
      // is constructed once here, then streamed over the rows
      rows.map { r =>
        val (w, h, sum, feats) = FakeCodec.decode(r.payload)
        DecodedRow(r.id, r.meta.mediaType, r.meta.sizeBytes, w, h, sum, feats)
      }
    }
  }

  /** Resize stub: recompute metadata for a target box, payload untouched
    * (a real impl transforms bytes; the plan shape is identical). */
  def resizeMeta(decoded: DataFrame, maxDim: Int): DataFrame = {
    val scale = least(lit(maxDim) / col("width"), lit(maxDim) / col("height"), lit(1.0))
    decoded
      .withColumn("out_width", greatest(floor(col("width") * scale), lit(1)).cast("int"))
      .withColumn("out_height", greatest(floor(col("height") * scale), lit(1)).cast("int"))
  }

  /** Frame-sampling stub for video rows: one output row per sampled frame
    * index — a generator (posexplode) over a computed index array, the
    * same shape a real ffmpeg frame extractor feeds. */
  def sampleFrames(media: DataFrame, everyNth: Int, maxFrames: Int): DataFrame = {
    val frameCount = (col("sizeBytes") / 1024).cast("int") + 1 // fake: 1 frame/KiB
    media.withColumn("frame_idx",
      explode(slice(sequence(lit(0), frameCount - 1, lit(everyNth)), 1, maxFrames)))
  }

  /** The FakeCodec payload bytes as a row-major luma grid (32 unsigned
    * bytes = an 8-wide × 4-tall grid) — the fixture surface for the
    * perceptual-hash family: [[graft.functions.ImageHash.dHashGrid]]
    * over this grid is the oracle-reproducible twin of the real
    * [[dHashImages]] path (DuckDB re-derives the same bytes from the
    * md5 hex chain). Pure builtins, fully codegen'd. */
  def fakeLumaGrid(payload: Column): Column =
    array((0 until 32).map { k =>
      conv(substring(hex(payload), 2 * k + 1, 2), 16, 10).cast("int")
    }: _*)

  /** Per-image perceptual hash row: `decoded = false` rows carry hash 0
    * and are quarantined by the caller (the [[decodeImages]] stance). */
  final case class ImageHashRow(id: Long, decoded: Boolean, dhash: Long)

  /** REAL-codec dHash: JDK ImageIO decode, exact integer area-average
    * onto a (gw+1)×gh luma grid (ITU-R BT.601 integer luma, block sums
    * divided once), then the same
    * [[graft.functions.ImageHash.dHashGridJvm]] kernel the fixture path
    * uses. Same mapPartitions shape as [[decodeImages]] — decode cost
    * embarrassingly parallel, pipelined with the scan, no shuffle. */
  def dHashImages(media: Dataset[MediaRow], gw: Int = 8, gh: Int = 8)
      : Dataset[ImageHashRow] = {
    implicit val enc = Encoders.product[ImageHashRow]
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val img = try javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) ImageHashRow(r.id, decoded = false, 0L)
        else {
          val grid = lumaGrid(img, gw + 1, gh)
          ImageHashRow(r.id, decoded = true,
            graft.functions.ImageHash.dHashGridJvm(grid, gw, gh))
        }
      }
    }
  }

  /** Exact integer area-average luma grid: cell (y, x) averages the
    * BT.601 luma (299R + 587G + 114B, milli units) over its pixel
    * block [floor(x·W/cols), floor((x+1)·W/cols)) × the y analog —
    * every image partitions exactly into blocks, no resampling
    * filter, so the grid (hence the hash) is decoder-deterministic. */
  private[operators] def lumaGrid(img: java.awt.image.BufferedImage,
      cols: Int, rowsN: Int): Array[Int] = {
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Int](cols * rowsN)
    var y = 0
    while (y < rowsN) {
      var x = 0
      while (x < cols) {
        val x0 = (x.toLong * w / cols).toInt
        val x1 = math.max(x0 + 1, ((x + 1).toLong * w / cols).toInt)
        val y0 = (y.toLong * h / rowsN).toInt
        val y1 = math.max(y0 + 1, ((y + 1).toLong * h / rowsN).toInt)
        var sum = 0L
        var py = y0
        while (py < math.min(y1, h)) {
          var px = x0
          while (px < math.min(x1, w)) {
            val rgb = img.getRGB(px, py)
            sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            px += 1
          }
          py += 1
        }
        val n = (math.min(x1, w) - x0).toLong * (math.min(y1, h) - y0)
        out(y * cols + x) = (sum / (n * 1000L)).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  // -------------------- real video frame decode (MJPEG / MPNG)

  /** REAL video frame extraction for concatenated-still containers —
    * MJPEG (back-to-back JPEG frames, the actual Motion-JPEG stream
    * format) and its PNG analog (back-to-back PNGs). Both formats are
    * self-framing — JPEG by SOI/EOI marker structure, PNG by signature
    * + length-prefixed chunks to IEND — so a container splits into
    * frame payloads EXACTLY, without a codec dependency, and each frame
    * then decodes through the JDK ImageIO path [[dHashImages]] already
    * uses. FakeCodec stays as the deterministic stand-in for the ORACLE
    * rows (q53/q220/q223 hash md5-derived fake grids that DuckDB
    * reproduces); this codec is what a production deployment runs on
    * real containers, spec'd against real encoded frames
    * (MultimodalSpec). A general-container deployment (MP4/H.264)
    * swaps a JNI decoder into [[splitFrames]]' slot; the sampling,
    * hashing, quarantine, and posting shapes do not change. */
  object FrameContainer {
    private val PngSig: Array[Byte] =
      Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

    private def u(p: Array[Byte], k: Int): Int = p(k) & 0xFF

    /** End offset (exclusive) of one JPEG starting at `start`, or -1
      * if the bytes there don't parse as a complete JPEG. Real JPEG
      * structure walk: SOI, length-prefixed segments, standalone
      * markers, entropy-coded scan data (FF00 stuffing and FFD0–D7
      * restarts skipped) until EOI. */
    private[graft] def parseJpeg(p: Array[Byte], start: Int): Int = {
      val n = p.length
      if (start + 1 >= n || u(p, start) != 0xFF || u(p, start + 1) != 0xD8)
        return -1
      var j = start + 2
      while (true) {
        if (j + 1 >= n || u(p, j) != 0xFF) return -1
        var m = u(p, j + 1)
        while (m == 0xFF && j + 2 < n) { j += 1; m = u(p, j + 1) }
        if (m == 0xD9) return j + 2 // EOI
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) j += 2
        else if (j + 3 < n) {
          val len = (u(p, j + 2) << 8) | u(p, j + 3)
          val segEnd = j + 2 + len
          if (len < 2 || segEnd > n) return -1
          else if (m == 0xDA) {
            // SOS: entropy-coded data follows the header
            var k = segEnd
            var found = false
            while (!found && k + 1 < n) {
              if (u(p, k) == 0xFF) {
                val mm = u(p, k + 1)
                if (mm == 0x00 || (mm >= 0xD0 && mm <= 0xD7)) k += 2
                else if (mm == 0xFF) k += 1 // fill byte
                else { j = k; found = true }
              } else k += 1
            }
            if (!found) return -1
          } else j = segEnd
        } else return -1
      }
      -1 // unreachable
    }

    /** End offset (exclusive) of one PNG starting at `start` (signature
      * then length-prefixed chunks to IEND), or -1. */
    private[graft] def parsePng(p: Array[Byte], start: Int): Int = {
      val n = p.length
      if (start + 8 > n || !java.util.Arrays.equals(
          java.util.Arrays.copyOfRange(p, start, start + 8), PngSig))
        return -1
      var j = start + 8
      while (true) {
        if (j + 8 > n) return -1
        val len = (u(p, j) << 24) | (u(p, j + 1) << 16) |
          (u(p, j + 2) << 8) | u(p, j + 3)
        val typ = new String(p, j + 4, 4, "US-ASCII")
        val end = j + 12 + len // length + type + data + CRC
        if (len < 0 || end > n) return -1
        j = end
        if (typ == "IEND") return j
      }
      -1 // unreachable
    }

    /** Frame payloads of a back-to-back still container — formats may
      * MIX frame-by-frame (each frame is sniffed where it starts, so a
      * JPEG-led container can carry PNG frames and vice versa). A
      * malformed frame stops the walk; complete frames already split
      * still stand (quarantine the rest, don't fail the task). Empty
      * for a payload that starts with neither format. */
    def splitFrames(payload: Array[Byte]): Array[Array[Byte]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val n = payload.length
      var i = 0
      var ok = true
      while (ok && i < n) {
        val end =
          if (i + 8 <= n && java.util.Arrays.equals(
              java.util.Arrays.copyOfRange(payload, i, i + 8), PngSig))
            parsePng(payload, i)
          else if (i + 1 < n && u(payload, i) == 0xFF &&
              u(payload, i + 1) == 0xD8)
            parseJpeg(payload, i)
          else -1
        if (end < 0) ok = false // malformed tail: frames so far stand
        else { out += java.util.Arrays.copyOfRange(payload, i, end); i = end }
      }
      out.toArray
    }
  }

  /** Per-frame perceptual-hash row from a REAL container: quarantine
    * stance per FRAME (`decoded = false`, hash 0) so one corrupt frame
    * never drops its siblings; a container yielding no frames at all
    * emits one `frameIdx = -1` quarantine row so the entity stays
    * visible to accounting. */
  final case class VideoFrameHashRow(
      id: Long, frameIdx: Int, decoded: Boolean, fhash: Long)

  /** One extracted frame of a real container, payload = the frame's
    * own encoded bytes (a valid standalone JPEG/PNG) — so every
    * still-image operator ([[decodeImages]], [[resizeImages]],
    * [[dHashImages]]) composes onto video frames by re-wrapping the
    * payload as a [[MediaRow]]. `decoded = false` (empty payload)
    * marks a container that split to no frames. */
  final case class ExtractedFrame(
      id: Long, frameIdx: Int, decoded: Boolean, payload: Array[Byte])

  /** REAL frame extraction as data — the general form of
    * [[dHashVideoFrames]] for pipelines that need the frame BYTES
    * (vision-model training samples, per-frame resize/feature passes),
    * not just perceptual hashes: split the container
    * ([[FrameContainer]]), sample every `everyNth` frame up to
    * `maxFrames`, emit each frame's encoded bytes. No decode happens
    * here (splitting is marker/chunk arithmetic only) — the expensive
    * ImageIO pass stays in whatever consumes the frames. Same
    * quarantine stance: an unsplittable container emits one
    * `frameIdx = -1` row so the entity stays visible. */
  def extractFrames(media: Dataset[MediaRow], everyNth: Int = 1,
      maxFrames: Int = 8): Dataset[ExtractedFrame] = {
    require(everyNth >= 1 && maxFrames >= 1,
      "everyNth and maxFrames must be positive")
    implicit val enc = Encoders.product[ExtractedFrame]
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        val frames = FrameContainer.splitFrames(r.payload)
        if (frames.isEmpty)
          Iterator.single(
            ExtractedFrame(r.id, -1, decoded = false, Array.empty[Byte]))
        else
          Iterator.range(0, frames.length, everyNth).take(maxFrames)
            .map(fi => ExtractedFrame(r.id, fi, decoded = true, frames(fi)))
      }
    }
  }

  /** REAL-codec video frame dHash — the production form of the q220
    * posting builder: split the container ([[FrameContainer]]), sample
    * every `everyNth` frame up to `maxFrames` (the [[sampleFrames]]
    * policy), ImageIO-decode each, hash through the same exact-integer
    * [[lumaGrid]] + [[graft.functions.ImageHash.dHashGridJvm]] kernel
    * as [[dHashImages]]. Same mapPartitions shape — decode cost
    * embarrassingly parallel, pipelined with the scan, no shuffle; the
    * output feeds [[graft.operators.Dedup.frameSetNearDupPairs]]
    * unchanged (select id, fhash where decoded). */
  def dHashVideoFrames(media: Dataset[MediaRow], gw: Int = 8, gh: Int = 8,
      everyNth: Int = 1, maxFrames: Int = 8): Dataset[VideoFrameHashRow] = {
    require(everyNth >= 1 && maxFrames >= 1,
      "everyNth and maxFrames must be positive")
    implicit val enc = Encoders.product[VideoFrameHashRow]
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        val frames = FrameContainer.splitFrames(r.payload)
        if (frames.isEmpty)
          Iterator.single(VideoFrameHashRow(r.id, -1, decoded = false, 0L))
        else
          Iterator.range(0, frames.length, everyNth).take(maxFrames).map { fi =>
            val img = try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(frames(fi)))
            catch { case scala.util.control.NonFatal(_) => null }
            if (img == null) VideoFrameHashRow(r.id, fi, decoded = false, 0L)
            else VideoFrameHashRow(r.id, fi, decoded = true,
              graft.functions.ImageHash.dHashGridJvm(
                lumaGrid(img, gw + 1, gh), gw, gh))
          }
      }
    }
  }

  /** Per-audio acoustic fingerprint row: `decoded = false` rows carry
    * fingerprint 0 and are quarantined by the caller (the
    * [[decodeImages]] stance — a too-short payload is information,
    * not a task failure). */
  final case class AudioFingerprintRow(id: Long, decoded: Boolean, afp: Long)

  /** REAL-PCM acoustic fingerprint over the partition-batched shape:
    * payload interpreted as 16-bit little-endian signed PCM mono,
    * split into `frames` equal time windows, per-window band energies
    * from a REAL FFT filterbank ([[pcmSpectralBandEnergies]]: radix-2
    * Cooley–Tukey over each window, |X_k|² mean per equal bin range —
    * an actual spectral transform, so a pure low tone lands its energy
    * in band 0 and a near-Nyquist tone in the last band), then the
    * same [[graft.functions.AudioFingerprint.bandFingerprintJvm]]
    * kernel the fixture path uses. Same mapPartitions shape as
    * [[decodeImages]]: decode cost embarrassingly parallel, pipelined
    * with the scan, no shuffle. Default geometry 17×4 — a FULL 64-bit
    * fingerprint (the [[dHashImages]] 8×8 precedent, and the q224
    * fixture's width): at corpus scale a saturating narrower space
    * grows natural Hamming collisions quadratically (measured, SCALE.md
    * round-19 — the reason the fixture widened from 8×4). */
  def fingerprintAudio(media: Dataset[MediaRow], frames: Int = 17,
      bands: Int = 4): Dataset[AudioFingerprintRow] = {
    implicit val enc = Encoders.product[AudioFingerprintRow]
    media.mapPartitions { rows =>
      rows.map { r =>
        val pcm = pcmSamples(r.payload)
        if (pcm.length < frames * bands)
          AudioFingerprintRow(r.id, decoded = false, 0L)
        else
          AudioFingerprintRow(r.id, decoded = true,
            graft.functions.AudioFingerprint.bandFingerprintJvm(
              pcmSpectralBandEnergies(pcm, frames, bands), frames, bands))
      }
    }
  }

  /** 16-bit little-endian signed PCM samples from raw bytes (trailing
    * odd byte ignored) — the FakeCodec-level audio decode. */
  private[graft] def pcmSamples(payload: Array[Byte]): Array[Int] = {
    val n = payload.length / 2
    val out = new Array[Int](n)
    var i = 0
    while (i < n) {
      out(i) = (payload(2 * i + 1) << 8) | (payload(2 * i) & 0xff)
      i += 1
    }
    out
  }

  /** Squared magnitudes |X_k|² for k = 0..n/2 of a real input via an
    * iterative radix-2 Cooley–Tukey FFT (n must be a power of two).
    * Trig through StrictMath (fdlibm) so the transform is bit-identical
    * across JVMs/platforms — the decoder-determinism contract every
    * codec in this file keeps. Scaling note: doubling every input
    * doubles every intermediate EXACTLY (power-of-two scaling commutes
    * with IEEE-754 rounding), so |X_k|² scales by exactly 4× — the
    * basis of the fingerprint's gain invariance. */
  private[graft] def fftMagSqHalf(xs: Array[Double]): Array[Double] = {
    val n = xs.length
    require(n > 0 && (n & (n - 1)) == 0, s"FFT length must be a power of two, got $n")
    val re = xs.clone()
    val im = new Array[Double](n)
    // bit-reversal permutation (im is all zero pre-transform)
    var i = 1
    var j = 0
    while (i < n) {
      var bit = n >> 1
      while ((j & bit) != 0) { j ^= bit; bit >>= 1 }
      j |= bit
      if (i < j) { val t = re(i); re(i) = re(j); re(j) = t }
      i += 1
    }
    var len = 2
    while (len <= n) {
      val ang = -2.0 * StrictMath.PI / len
      val wr = StrictMath.cos(ang)
      val wi = StrictMath.sin(ang)
      var s = 0
      while (s < n) {
        var cr = 1.0
        var ci = 0.0
        var k = 0
        val half = len >> 1
        while (k < half) {
          val ur = re(s + k); val ui = im(s + k)
          val xr = re(s + k + half); val xi = im(s + k + half)
          val vr = xr * cr - xi * ci
          val vi = xr * ci + xi * cr
          re(s + k) = ur + vr; im(s + k) = ui + vi
          re(s + k + half) = ur - vr; im(s + k + half) = ui - vi
          val ncr = cr * wr - ci * wi
          ci = cr * wi + ci * wr
          cr = ncr
          k += 1
        }
        s += len
      }
      len <<= 1
    }
    Array.tabulate(n / 2 + 1)(k => re(k) * re(k) + im(k) * im(k))
  }

  /** Row-major frames×bands integer energy matrix from a REAL spectral
    * transform: window t covers samples [t·⌊n/frames⌋, …) (the last
    * window absorbs the remainder), each window is zero-padded to the
    * next power of two and FFT'd, and band b's energy is the mean of
    * |X_k|² over its equal share of the positive-frequency bins
    * (DC excluded — the fingerprint is therefore DC-offset invariant),
    * normalized by L² so 16-bit input never overflows the Int cell
    * (max ≈ 32768² ≈ 1.07e9 < 2³¹). floor() to the integer contract
    * the fingerprint kernel takes; a band with no bins (window shorter
    * than 2·bands) reads 0. O(L log L) per window — a 1-minute 16 kHz
    * clip is ~2M flops per window, executor-cheap. */
  private[graft] def pcmSpectralBandEnergies(samples: Array[Int],
      frames: Int, bands: Int): Array[Int] = {
    require(frames >= 1 && bands >= 1, "frames and bands must be positive")
    val out = new Array[Int](frames * bands)
    val wlen = math.max(1, samples.length / frames)
    var t = 0
    while (t < frames) {
      val start = t * wlen
      val end =
        if (t == frames - 1) samples.length
        else math.min(samples.length, start + wlen)
      if (start < end) {
        val len = end - start
        var p2 = 1
        while (p2 < len) p2 <<= 1
        val buf = new Array[Double](p2)
        var i = 0
        while (i < len) { buf(i) = samples(start + i).toDouble; i += 1 }
        val mag = fftMagSqHalf(buf)
        val nb = mag.length - 1 // usable bins 1..nb (DC skipped)
        var b = 0
        while (b < bands) {
          val lo = 1 + b * nb / bands
          val hi = 1 + (b + 1) * nb / bands
          var sum = 0.0
          var k = lo
          while (k < hi) { sum += mag(k); k += 1 }
          out(t * bands + b) =
            if (hi <= lo) 0
            else {
              val e = sum / ((hi - lo).toDouble * len.toDouble * len.toDouble)
              math.min(Int.MaxValue.toDouble, StrictMath.floor(e)).toInt
            }
          b += 1
        }
      }
      t += 1
    }
    out
  }

  /** Build a deterministic fake media frame from the documents table
    * (payload = md5-chain bytes of the text) — test/bench input only. */
  def syntheticMediaFrame(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    implicit val enc = Encoders.product[MediaRow]
    docs.select(
      col("doc_id").as("id"),
      struct(
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("mediaType"),
        lit("fake-rgb").as("format"),
        length(col("text")).cast("long").as("sizeBytes")).as("meta"),
      // 32 deterministic bytes: md5(text) ++ md5(md5(text))
      unhex(concat(md5(col("text")), md5(md5(col("text"))))).as("payload"))
      .as[MediaRow]
  }
}
