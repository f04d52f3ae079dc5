package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Perceptual AUDIO fingerprint for near-duplicate detection — the
  * temporal-delta member of the acoustic-fingerprint family
  * (Chromaprint/AcoustID's core idea, Haitsma–Kalker's robust hash):
  * over a `frames`-window × `bands`-band spectral ENERGY matrix
  * (row-major: window t, band b at t·bands + b), bit (t, b) is set iff
  * energy(t+1, b) > energy(t, b) — only the SIGN of each band's
  * frame-to-frame energy delta survives, so the fingerprint is
  * invariant to global gain / loudness normalization (order between
  * temporally-adjacent energies is volume-blind) and robust to small
  * local perturbations (one cell touches at most two comparisons, so
  * a single-window band change flips ≤ 2 bits). (frames−1)·bands bits,
  * ≤ 64 — an opaque bit pattern, sign meaningless.
  *
  * The temporal twin of [[DHashGridExpr]] (which compares
  * SPATIALLY-adjacent luma cells): same one-pass native kernel shape,
  * same ARRAY<INT> input contract, different adjacency geometry —
  * audio similarity lives in how band energy MOVES, not where it sits.
  * `AudioFingerprintWitness.bandFingerprintDeclarative` is the pure-builtin
  * parity witness the oracle SQL mirrors. Near-dup CANDIDATES then
  * come from Hamming-band bucketing
  * ([[graft.operators.Dedup.hammingNearDupPairs]] — the q204 machinery
  * unchanged), never an all-pairs Hamming scan. */
case class AudioFingerprintExpr(child: Expression, frames: Int, bands: Int)
  extends UnaryExpression {

  require(frames >= 2 && bands >= 1 && (frames - 1) * bands <= 64,
    s"audio fingerprint ${frames}x$bands must have >= 2 windows and fit 64 bits")

  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): AudioFingerprintExpr =
    copy(child = c)
  override def prettyName: String = "audio_fingerprint"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "audio_fingerprint needs ARRAY<INT> (row-major window x band " +
            s"energy matrix), got ${other.sql}")
    }

  /** Instance entry point shared by eval and codegen. */
  def hashOf(arr: ArrayData): Long = {
    val need = frames * bands
    if (arr.numElements() < need)
      throw new IllegalArgumentException(
        s"audio_fingerprint: energy matrix has ${arr.numElements()} cells, " +
          s"needs ${frames}x$bands = $need")
    var h = 0L
    var k = 0
    while (k < (frames - 1) * bands) {
      val p = k // window t = k / bands, band b = k % bands -> t*bands + b = k
      // a null energy cell would read as a silent 0 through getInt —
      // refuse loudly (the DHashGridExpr stance: a caller's bad matrix
      // must not hash plausibly)
      if (arr.isNullAt(p) || arr.isNullAt(p + bands))
        throw new IllegalArgumentException(
          s"audio_fingerprint: null energy cell at position $p/${p + bands}")
      if (arr.getInt(p + bands) > arr.getInt(p)) h |= 1L << k
      k += 1
    }
    h
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(hashOf(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("audioFp", this,
      classOf[AudioFingerprintExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hashOf($c);")
  }
}

object AudioFingerprint {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Temporal band-energy fingerprint of a row-major frames×bands
    * energy matrix — the native kernel. */
  def bandFingerprint(energies: Column, frames: Int, bands: Int): Column =
    Bridge.column(AudioFingerprintExpr(Bridge.expression(energies), frames, bands))

  /** JVM twin of the kernel for driver-side witnesses and the
    * partition-batched real-codec path. */
  def bandFingerprintJvm(energies: Array[Int], frames: Int, bands: Int): Long = {
    require(energies.length >= frames * bands,
      s"energy matrix has ${energies.length} cells, needs ${frames * bands}")
    var h = 0L
    var k = 0
    while (k < (frames - 1) * bands) {
      if (energies(k + bands) > energies(k)) h |= 1L << k
      k += 1
    }
    h
  }
}
