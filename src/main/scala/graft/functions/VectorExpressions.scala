package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, ShortType}

/** Static kernel bodies for the vector expressions, callable from
  * generated code. Element access dispatches on an int type code
  * (resolved once at planning time and baked into the generated call as
  * a literal, so the hot loop is a JIT-friendly switch). */
object VectorKernels {
  final val FloatCode = 0; final val DoubleCode = 1; final val IntCode = 2
  final val LongCode = 3; final val ShortCode = 4; final val ByteCode = 5

  def typeCode(dt: DataType): Int = dt.asInstanceOf[ArrayType].elementType match {
    case FloatType   => FloatCode
    case DoubleType  => DoubleCode
    case IntegerType => IntCode
    case LongType    => LongCode
    case ShortType   => ShortCode
    case ByteType    => ByteCode
    case et => throw new IllegalArgumentException(
      s"unsupported array element type $et")
  }

  @inline private def get(a: ArrayData, i: Int, code: Int): Double = code match {
    case FloatCode  => a.getFloat(i).toDouble
    case DoubleCode => a.getDouble(i)
    case IntCode    => a.getInt(i).toDouble
    case LongCode   => a.getLong(i).toDouble
    case ShortCode  => a.getShort(i).toDouble
    case _          => a.getByte(i).toDouble
  }

  def cosine(aa: ArrayData, bb: ArrayData, ca: Int, cb: Int): Double = {
    val n = aa.numElements()
    if (bb.numElements() != n) return 0.0
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      // a null element nulls the declarative sums → d is null → the
      // when(d > 0) fallthrough yields 0.0; mirror that exactly
      if (aa.isNullAt(i) || bb.isNullAt(i)) return 0.0
      val x = get(aa, i, ca)
      val y = get(bb, i, cb)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d > 0) dot / d else 0.0
  }

  /** Boxed so NULL can propagate exactly like the declarative
    * `aggregate(zip_with((x-y)²))`: a length mismatch (zip_with
    * null-pads) or a null element (nulls the lambda) makes the fold
    * NULL there — so it must here too, not throw and not read a zeroed
    * slot. Nearest-centroid windows then order the null distance last,
    * identically in both formulations. */
  /** [[NearestCentroidExpr]]'s body: strict-less argmin of sequential
    * squared-L2 folds (same element order and double promotion as
    * [[sqDist]]), ties to the smaller index; −1 on null elements or a
    * universal length mismatch. */
  def nearestCentroid(a: ArrayData, code: Int, cents: Array[Array[Double]]): Int = {
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (a.numElements() == c.length) {
        var acc = 0.0
        var ok = true
        var i = 0
        while (ok && i < c.length) {
          if (a.isNullAt(i)) ok = false
          else { val d = get(a, i, code) - c(i); acc += d * d; i += 1 }
        }
        if (ok && acc < bestD) { bestD = acc; best = j }
      }
      j += 1
    }
    best
  }

  /** [[PqEncodeExpr]]'s per-subspace body: strict-less argmin of the
    * sequential squared-L2 fold over the slice starting at `off` —
    * identical arithmetic to [[nearestCentroid]] restricted to a
    * subvector; −1 on a null element (the caller checks total length
    * once for the whole vector). */
  def pqNearestSub(a: ArrayData, code: Int, off: Int,
      cents: Array[Array[Double]]): Int = {
    var best = -1
    var bestD = Double.PositiveInfinity
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      var acc = 0.0
      var ok = true
      var i = 0
      while (ok && i < c.length) {
        if (a.isNullAt(off + i)) ok = false
        else { val d = get(a, off + i, code) - c(i); acc += d * d; i += 1 }
      }
      if (ok && acc < bestD) { bestD = acc; best = j }
      j += 1
    }
    best
  }

  /** Min squared-L2 to a fixed centroid table (same fold order as
    * [[nearestCentroid]]) — the k-means++ init's D² weight (and the selection score of its farthest-point predecessor).
    * Invalid vectors (null element / length mismatch everywhere) score
    * −1.0 so they are never selected as "farthest". */
  def minSqDist(a: ArrayData, code: Int, cents: Array[Array[Double]]): Double = {
    var bestD = Double.PositiveInfinity
    var any = false
    var j = 0
    while (j < cents.length) {
      val c = cents(j)
      if (a.numElements() == c.length) {
        var acc = 0.0
        var ok = true
        var i = 0
        while (ok && i < c.length) {
          if (a.isNullAt(i)) ok = false
          else { val d = get(a, i, code) - c(i); acc += d * d; i += 1 }
        }
        if (ok) { any = true; if (acc < bestD) bestD = acc }
      }
      j += 1
    }
    if (any) bestD else -1.0
  }

  def sqDist(aa: ArrayData, bb: ArrayData, ca: Int, cb: Int): java.lang.Double = {
    val n = aa.numElements()
    if (bb.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (aa.isNullAt(i) || bb.isNullAt(i)) return null
      val d = get(aa, i, ca) - get(bb, i, cb)
      acc += d * d
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Symmetric int8 quantization in one pass: scale = max|x|/127, then
    * code_i = floor(x_i/scale + 0.5) — EXPLICIT half-up rounding, so the
    * formula (not an engine's round() tie convention, which differs
    * between Spark's HALF_UP and DuckDB's binary rounding) defines the
    * codes. |x_i| ≤ max|x| keeps every code in [-127, 127] without a
    * clamp (floor(±127 + 0.5) = ±127 at the extremes). The zero vector
    * takes scale 0.0 and all-zero codes. A null ELEMENT stays null in
    * the code array and is skipped by the max fold — mirroring the
    * declarative witness, where `greatest` skips nulls and `transform`
    * maps null through. */
  def quantizeInt8(arr: ArrayData, code: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val a = math.abs(get(arr, i, code))
        // NaN wins the fold AND stays won, mirroring Spark's `greatest`
        // ordering (NaN sorts above every number): a finite a never
        // overwrites a NaN maxabs because `a > NaN` is false
        if (java.lang.Double.isNaN(a) || a > maxabs) maxabs = a
      }
      i += 1
    }
    // NaN maxabs -> NaN scale, and the `scale > 0` branch below is then
    // false, emitting code 0 — exactly the declarative witness's route
    // (Spark evaluates NaN > 0 as true, takes the floor branch, and the
    // non-ANSI NaN-to-int cast yields 0)
    val scale =
      if (java.lang.Double.isNaN(maxabs)) Double.NaN
      else if (maxabs > 0) maxabs / 127.0 else 0.0
    val out = new Array[Any](n)
    var j = 0
    while (j < n) {
      if (arr.isNullAt(j)) out(j) = null
      else if (scale > 0)
        out(j) = java.lang.Integer.valueOf(math.floor(get(arr, j, code) / scale + 0.5).toInt)
      else out(j) = java.lang.Integer.valueOf(0)
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](new org.apache.spark.sql.catalyst.util.GenericArrayData(out), scale))
  }

  /** One-pass hyperplane-LSH bucket: all plane projections in a single
    * vector traversal against the literal sign matrix (planes × dims).
    * Mirrors the declarative per-plane `aggregate(zip_with(x*s))` fold
    * exactly: same sequential order and double promotion per plane, and
    * the null/mismatch routes — a null element nulls EVERY plane's
    * projection, a length mismatch null-pads — both collapse every
    * `when(proj > 0)` to its 0 branch, so the bucket is 0. */
  def lshBucket(arr: ArrayData, code: Int, m: Array[Array[Double]]): Int = {
    val planes = m.length
    if (planes == 0) return 0
    val dims = m(0).length
    val n = arr.numElements()
    if (n != dims) return 0
    var i = 0
    while (i < n) { if (arr.isNullAt(i)) return 0; i += 1 }
    val proj = new Array[Double](planes)
    i = 0
    while (i < n) {
      val x = get(arr, i, code)
      var p = 0
      while (p < planes) { proj(p) += x * m(p)(i); p += 1 }
      i += 1
    }
    var bucket = 0
    var p = 0
    while (p < planes) {
      // Spark's `when(proj > 0)` evaluates NaN > 0 as TRUE (NaN sorts
      // above every number) — mirror it, or a NaN projection would
      // bucket differently between kernel and witness
      if (proj(p) > 0 || java.lang.Double.isNaN(proj(p))) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  def normalize(arr: ArrayData, code: Int): ArrayData = {
    val n = arr.numElements()
    val vals = new Array[Double](n)
    var ss = 0.0
    var anyNull = false
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) { anyNull = true; i = n }
      else {
        val x = get(arr, i, code)
        vals(i) = x
        ss += x * x
        i += 1
      }
    }
    val out = new Array[Any](n)
    val nrm = math.sqrt(ss)
    if (anyNull || !(nrm > 0)) {
      java.util.Arrays.fill(out.asInstanceOf[Array[AnyRef]], java.lang.Double.valueOf(0.0))
    } else {
      var j = 0
      while (j < n) { out(j) = java.lang.Double.valueOf(vals(j) / nrm); j += 1 }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** One-pass cosine kernel for embedding columns.
  *
  * The declarative form (`aggregate(zip_with(...))` × 3: dot, ‖a‖, ‖b‖)
  * walks both arrays three times through interpreted lambdas. This
  * kernel computes all three sums in a single traversal with the SAME
  * sequential fold order and double promotion per element, so scores are
  * bit-identical to the declarative form and to DuckDB's
  * `list_sum(list_transform(...))` (the cross-engine numeric contract).
  *
  * Length mismatch mirrors zip_with's null-padding → null sum → the
  * `when(d > 0, ...).otherwise(0.0)` fallthrough: result 0.0.
  */
case class CosineExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineExpr =
    copy(left = l, right = r)
  override def prettyName: String = "cosine"

  // any numeric element type works (the declarative predecessor accepted
  // them via cast("double"); an int vector must not throw here)
  @transient private lazy val codeA = VectorKernels.typeCode(left.dataType)
  @transient private lazy val codeB = VectorKernels.typeCode(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(VectorKernels.cosine(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], codeA, codeB))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorKernels$$.MODULE$$" +
        s".cosine($a, $b, $codeA, $codeB);")
}

/** One-pass L2 normalization kernel: norm fold + per-element divide in a
  * single traversal. Value-identical to the declarative
  * `when(l2Norm(v) > 0, transform(v, x / n)).otherwise(zeros)` pair
  * (same fold order, same double promotion — pinned by the q60 oracle
  * and the PropertySpec parity case): the zero vector maps to zeros, and
  * a NULL element anywhere nulls the norm, which the declarative
  * `when` routes to the zeros branch — mirrored exactly. */
case class NormalizeExpr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override protected def withNewChildInternal(c: Expression): NormalizeExpr = copy(c)
  override def prettyName: String = "l2_normalize"

  @transient private lazy val code = VectorKernels.typeCode(child.dataType)

  override def nullSafeEval(v: Any): Any =
    VectorKernels.normalize(v.asInstanceOf[ArrayData], code)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels$$.MODULE$$.normalize($c, $code);")
}

/** One-pass squared-L2 kernel: same sequential fold and double
  * promotion as the declarative `aggregate(zip_with((x-y)²))` it
  * replaces in the IVF hot path (per-vector × nlist centroid evals at
  * assign/probe time), so distances — and therefore nearest-centroid
  * ties — are bit-identical. */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  // produces null from NON-null inputs (null element, length mismatch),
  // so nullability cannot be inherited from the children — without this
  // the projection layer ignores the null result entirely
  override def nullable: Boolean = true
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SqDistExpr =
    copy(left = l, right = r)
  override def prettyName: String = "sq_dist"

  @transient private lazy val codeA = VectorKernels.typeCode(left.dataType)
  @transient private lazy val codeB = VectorKernels.typeCode(right.dataType)

  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sqDist(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], codeA, codeB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_boxed = graft.functions.VectorKernels$$.MODULE$$
        .sqDist($a, $b, $codeA, $codeB);
      if (${ev.value}_boxed == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ${ev.value}_boxed.doubleValue(); }""")
}

/** One-pass int8 quantization kernel: max-abs fold + code emission in a
  * single traversal, returned as struct<codes: array<int>, scale: double>
  * so the 4×-smaller representation and its dequant factor travel
  * together. Value-identical to `graft.operators.EmbeddingsWitness.quantizeInt8Declarative`
  * (same fold, same explicit floor(x/scale + 0.5) half-up formula —
  * pinned by the q91 oracle and a PropertySpec parity case). At 100 TB
  * this is the storage lever: an embedding column drops from 4 B to 1 B
  * per dimension with the scale amortized per vector. */
case class QuantizeInt8Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(
        "codes", ArrayType(IntegerType, containsNull = true), nullable = false),
      org.apache.spark.sql.types.StructField("scale", DoubleType, nullable = false)))
  override protected def withNewChildInternal(c: Expression): QuantizeInt8Expr = copy(c)
  override def prettyName: String = "quantize_int8"

  @transient private lazy val code = VectorKernels.typeCode(child.dataType)

  override def nullSafeEval(v: Any): Any =
    VectorKernels.quantizeInt8(v.asInstanceOf[ArrayData], code)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels$$.MODULE$$.quantizeInt8($c, $code);")
}

/** One-pass hyperplane-LSH bucket kernel: the declarative form walks the
  * vector once per plane through interpreted `aggregate(zip_with(...))`
  * lambdas (planes × dims multiplies, planes traversals); this kernel
  * does all planes in one traversal against the baked-in sign matrix.
  * Value-identical to `graft.operators.SimilarityWitness.lshBucketDeclarative`
  * (parity spec'd — same fold order and promotion per plane). */
case class LshBucketExpr(child: Expression, matrix: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override protected def withNewChildInternal(c: Expression): LshBucketExpr =
    copy(child = c)
  override def prettyName: String = "lsh_bucket"

  @transient private lazy val code = VectorKernels.typeCode(child.dataType)

  override def nullSafeEval(v: Any): Any =
    VectorKernels.lshBucket(v.asInstanceOf[ArrayData], code, matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("lshMatrix", matrix, "double[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.VectorKernels$$.MODULE$$.lshBucket($c, $code, $m);")
  }
}

/** Nearest-centroid argmin over a FIXED centroid table — the KMeans
  * training/assignment kernel ([[graft.operators.IvfAnn.build]]): per
  * centroid a sequential squared-L2 fold in element order (identical
  * double arithmetic to [[SqDistExpr]] with a double-typed right side),
  * strict-less argmin so ties go to the SMALLER list id. The centroid
  * table is driver state baked into the expression — nlist × dim
  * doubles, the capped-model convention — so assignment is one
  * shuffle-free narrow pass (no cross join, no window). A null element
  * or length mismatch yields list −1 (loud, never silently bucketed). */
case class NearestCentroidExpr(child: Expression, centroids: Seq[Seq[Double]])
  extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override protected def withNewChildInternal(c: Expression): NearestCentroidExpr =
    copy(child = c)
  override def prettyName: String = "nearest_centroid"

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val code = VectorKernels.typeCode(child.dataType)

  def nearest(a: ArrayData): Int = VectorKernels.nearestCentroid(a, code, cents)

  override def nullSafeEval(v: Any): Any = nearest(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCent", this,
      classOf[NearestCentroidExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.nearest($c);")
  }
}

/** Min squared-L2 to a fixed centroid table — [[VectorKernels
  * .minSqDist]] as an expression; the k-means++ init's per-vector
  * score in [[graft.operators.IvfAnn.build]]. */
case class MinSqDistExpr(child: Expression, centroids: Seq[Seq[Double]])
  extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override protected def withNewChildInternal(c: Expression): MinSqDistExpr =
    copy(child = c)
  override def prettyName: String = "min_sq_dist"

  @transient private lazy val cents: Array[Array[Double]] =
    centroids.map(_.toArray).toArray
  @transient private lazy val code = VectorKernels.typeCode(child.dataType)

  def minDist(a: ArrayData): Double = VectorKernels.minSqDist(a, code, cents)

  override def nullSafeEval(v: Any): Any = minDist(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minSqDist", this,
      classOf[MinSqDistExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.minDist($c);")
  }
}

object VectorExpressions {
  import org.apache.spark.sql.graftbridge.Bridge

  def cosine(a: Column, b: Column): Column =
    Bridge.column(CosineExpr(Bridge.expression(a), Bridge.expression(b)))

  def sqDist(a: Column, b: Column): Column =
    Bridge.column(SqDistExpr(Bridge.expression(a), Bridge.expression(b)))

  def normalize(a: Column): Column =
    Bridge.column(NormalizeExpr(Bridge.expression(a)))

  def quantizeInt8(a: Column): Column =
    Bridge.column(QuantizeInt8Expr(Bridge.expression(a)))

  def lshBucket(a: Column, matrix: Array[Array[Double]]): Column =
    Bridge.column(LshBucketExpr(Bridge.expression(a), matrix))

  def nearestCentroid(a: Column, centroids: Seq[Array[Double]]): Column =
    Bridge.column(NearestCentroidExpr(Bridge.expression(a),
      centroids.map(_.toSeq)))

  def minSqDist(a: Column, centroids: Seq[Array[Double]]): Column =
    Bridge.column(MinSqDistExpr(Bridge.expression(a),
      centroids.map(_.toSeq)))
}
