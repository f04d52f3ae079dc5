package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

// Parity witnesses for the perceptual-hash kernels: the builtin-only
// formulations the kernels are spec'd bit-equal against and the oracle
// SQL mirrors. No production path calls them, so they live in test
// scope.

/** Witness for [[AudioFingerprint.bandFingerprint]]. */
object AudioFingerprintWitness {
  /** Pure-builtin fingerprint (unrolled adjacent-window comparisons) —
    * parity witness for the kernel and the formulation the oracle SQL
    * mirrors, on VALID matrices only: a null or missing cell reads as
    * an unset bit here (null `>` is false), where the kernel refuses
    * loudly. The kernel — not this witness — owns the bad-input
    * stance (the [[ImageHash.dHashGridDeclarative]] convention);
    * production paths must go through the kernel. */
  def bandFingerprintDeclarative(energies: Column, frames: Int,
      bands: Int): Column = {
    require(frames >= 2 && bands >= 1 && (frames - 1) * bands <= 64,
      s"audio fingerprint ${frames}x$bands must fit 64 bits")
    // disjoint power-of-two terms never carry, so the sum is the OR of
    // the bit pattern even when bit 63 participates
    (0 until (frames - 1) * bands).map { k =>
      // position k compares window t = k/bands with t+1 in band k%bands;
      // element_at is 1-based
      when(element_at(energies, k + bands + 1) > element_at(energies, k + 1),
        lit(1L << k)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}

/** Witness for [[ImageHash.dHashGrid]]. */
object ImageHashWitness {
  /** Pure-builtin dHash (unrolled adjacent-cell comparisons) — parity
    * witness for the kernel and the formulation the oracle mirrors. */
  def dHashGridDeclarative(grid: Column, gw: Int, gh: Int): Column = {
    require(gw >= 1 && gh >= 1 && gw * gh <= 64,
      s"dhash grid ${gw}x$gh must fit 64 bits")
    // disjoint power-of-two terms never carry, so the sum is the OR of
    // the bit pattern even when bit 63 (Long.MinValue) participates
    (0 until gw * gh).map { b =>
      val y = b / gw
      val x = b % gw
      val p = y * (gw + 1) + x // 0-based; element_at is 1-based
      when(element_at(grid, p + 2) > element_at(grid, p + 1),
        lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }
}
