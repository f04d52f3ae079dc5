package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Perceptual image hashing for near-duplicate detection — the dHash
  * (difference hash) over a luma grid: bit (y, x) is set iff
  * luma(y, x+1) > luma(y, x) on a gh-row × (gw+1)-column grid, giving
  * a gw·gh-bit fingerprint (≤ 64 bits — an opaque bit pattern, sign
  * meaningless) that is invariant to global brightness /
  * contrast shifts (only ORDER between horizontally-adjacent cells
  * matters) and robust to small local perturbations (one cell touches
  * at most two comparisons, so a single-cell change flips ≤ 2 bits).
  * The standard formulation (Krawetz's dHash; the gradient member of
  * the pHash family) on the canonical 8×9 grid yields 64 bits; here
  * the grid shape is a parameter so the 32-byte FakeCodec fixture
  * (8×4 grid → 28 bits) oracles in DuckDB while the real ImageIO path
  * uses the full 9×8 → 64-bit form.
  *
  * One-pass native kernel; `ImageHashWitness.dHashGridDeclarative` is the
  * pure-builtin parity witness the oracle SQL mirrors. Near-dup
  * CANDIDATES then come from Hamming-band bucketing
  * ([[graft.operators.Dedup.hammingNearDupPairs]]) — never an
  * all-pairs Hamming scan. */
case class DHashGridExpr(child: Expression, gw: Int, gh: Int)
  extends UnaryExpression {

  require(gw >= 1 && gh >= 1 && gw * gh <= 64,
    s"dhash grid ${gw}x$gh must fit 64 bits")

  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): DHashGridExpr =
    copy(child = c)
  override def prettyName: String = "dhash_grid"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dhash_grid needs ARRAY<INT> (row-major luma grid), got ${other.sql}")
    }

  /** Instance entry point shared by eval and codegen. */
  def hashOf(arr: ArrayData): Long = {
    val need = (gw + 1) * gh
    if (arr.numElements() < need)
      throw new IllegalArgumentException(
        s"dhash_grid: luma grid has ${arr.numElements()} cells, " +
          s"needs ${gw + 1}x$gh = $need")
    var h = 0L
    var b = 0
    while (b < gw * gh) {
      val y = b / gw
      val x = b % gw
      val p = y * (gw + 1) + x
      // a null luma cell would read as a silent 0 through getInt —
      // refuse loudly instead (producers never emit nulls; a caller's
      // bad grid must not hash plausibly)
      if (arr.isNullAt(p) || arr.isNullAt(p + 1))
        throw new IllegalArgumentException(
          s"dhash_grid: null luma cell at grid position $p/${p + 1}")
      if (arr.getInt(p + 1) > arr.getInt(p)) h |= 1L << b
      b += 1
    }
    h
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(hashOf(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dhashGrid", this,
      classOf[DHashGridExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.hashOf($c);")
  }
}

object ImageHash {
  import org.apache.spark.sql.graftbridge.Bridge

  /** dHash of a row-major (gw+1)×gh luma grid — the native kernel. */
  def dHashGrid(grid: Column, gw: Int, gh: Int): Column =
    Bridge.column(DHashGridExpr(Bridge.expression(grid), gw, gh))

  /** JVM twin of the kernel for driver-side witnesses and the
    * partition-batched real-codec path. */
  def dHashGridJvm(grid: Array[Int], gw: Int, gh: Int): Long = {
    require(grid.length >= (gw + 1) * gh,
      s"luma grid has ${grid.length} cells, needs ${(gw + 1) * gh}")
    var h = 0L
    var b = 0
    while (b < gw * gh) {
      val y = b / gw
      val x = b % gw
      val p = y * (gw + 1) + x
      if (grid(p + 1) > grid(p)) h |= 1L << b
      b += 1
    }
    h
  }
}
