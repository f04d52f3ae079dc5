package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass native implementations of the hash-sketch kernels.
  *
  * The declarative versions in TextFunctions/Dedup are built from
  * higher-order array functions, which are CodegenFallback in Spark: every
  * lambda step allocates UTF8Strings and re-enters the interpreter, and
  * the SimHash formulation hashes each token once PER BIT. These
  * expressions compute the identical values imperatively in a single pass
  * per document — the same integer/md5 math the DuckDB oracle re-derives
  * (verified by q28/q29/q41 hash-matching).
  *
  * Each expression implements real `doGenCode` as a static kernel call
  * (the LangQualityExpr pattern), so the enclosing projection stays one
  * WholeStageCodegen span — the big win is still algorithmic (one digest
  * per shingle; one digest per token instead of 16/64), but the stage no
  * longer drops to interpreted row-at-a-time glue around it.
  */
object HashKernels {
  private val hexDigits = "0123456789abcdef".toCharArray

  def md5(md: MessageDigest, bytes: Array[Byte]): Array[Byte] = {
    md.reset()
    md.digest(bytes)
  }

  def toHex(d: Array[Byte]): String = {
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexDigits((d(i) >>> 4) & 15)
      out(i * 2 + 1) = hexDigits(d(i) & 15)
      i += 1
    }
    new String(out)
  }

  // kernel bodies callable from generated code (and nullSafeEval)

  def simhash16(toks: ArrayData): Int = {
    val n = toks.numElements()
    val md = MessageDigest.getInstance("MD5")
    val votes = new Array[Int](16)
    var j = 0
    while (j < n) {
      val d = md5(md, toks.getUTF8String(j).getBytes)
      // hex digits 0..3 = high/low nibbles of bytes 0..1
      val nibbles = Array((d(0) >>> 4) & 15, d(0) & 15, (d(1) >>> 4) & 15, d(1) & 15)
      var i = 0
      while (i < 16) {
        val bit = (nibbles(i / 4) >>> (3 - i % 4)) & 1
        votes(i) += (if (bit == 1) 1 else -1)
        i += 1
      }
      j += 1
    }
    var out = 0
    var i = 0
    while (i < 16) { if (votes(i) > 0) out |= 1 << i; i += 1 }
    out
  }

  def simhash64(toks: ArrayData): Long = {
    val n = toks.numElements()
    val votes = new Array[Int](64)
    var j = 0
    while (j < n) {
      val h = XxHash64Function.hash(toks.getUTF8String(j), StringType, 42L)
      var i = 0
      while (i < 64) {
        votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= 1L << i; i += 1 }
    out
  }

  def fnv1a64(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 1469598103934665603L // reference's basis, see Fnv1a64Expr
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 1099511628211L
      i += 1
    }
    h
  }
}

/** The MinHash permutation family: `mix_i(h) = (a_i·h + b_i) mod p`
  * over `h` = the first 60 bits (15 hex chars) of md5(shingle), with
  * p = 2^61-1 (Mersenne). ONE digest per shingle + k integer mixes —
  * versus k digests per shingle for the salted-md5 family — is the
  * standard universal-hash MinHash construction and cuts the dominant
  * cost of LSH dedup by the signature width (8-12×).
  *
  * Everything here is exact 64/128-bit integer arithmetic that the
  * DuckDB oracle reproduces with HUGEINT ops (md5 stays the only shared
  * digest). Constants are fixed multiples of the public golden-ratio
  * mixing constant 2^64/φ reduced mod p (a_i forced odd; derivation in
  * the comment below) — identical literals on both engines. */
object MinHashMix {
  val P: Long = (1L << 61) - 1 // 2^61-1, Mersenne prime

  // a_i = ((PHI·(2i+3)) mod 2^64) mod p, forced odd (degenerate-guarded)
  // b_i = ((PHI·(2i+2) + INC) mod 2^64) mod p
  // with PHI = 0x9E3779B97F4A7C15 (2^64/φ), INC = 0x632BE59BD9B4E019.
  val A: Array[Long] = Array(
    1920342328977880133L, 1663341875487337577L, 1406341421996795029L,
    1149340968506252481L, 892340515015709933L, 635340061525167377L,
    378339608034624829L, 121339154544082281L, 2170181710267233685L,
    1913181256776691137L, 1656180803286148581L, 1399180349795606033L)
  val B: Array[Long] = Array(
    2277371219370694727L, 2020370765880152179L, 1763370312389609623L,
    1506369858899067075L, 1249369405408524527L, 992368951917981979L,
    735368498427439423L, 478368044936896875L, 221367591446354327L,
    2270210147169505730L, 2013209693678963182L, 1756209240188420626L)

  /** (a·h) mod p for a < p < 2^61, h < 2^60 — the 121-bit product split
    * by multiplyHigh, folded with 2^64 ≡ 8 and 2^61 ≡ 1 (mod p). */
  def mulmod(a: Long, h: Long): Long = {
    val lo = a * h
    val hi = Math.multiplyHigh(a, h) // both operands positive < 2^62
    var r = (hi << 3) + (lo & P) + (lo >>> 61) // < 2^60 + 2^61 + 8
    r = (r & P) + (r >>> 61)
    if (r >= P) r - P else r
  }

  def mix(i: Int, h: Long): Long = {
    val v = mulmod(A(i), h) + B(i)
    if (v >= P) v - P else v
  }

  /** The first 60 bits of an md5 digest as a long — exactly the value of
    * the digest's first 15 hex chars. */
  def h60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Full signature body, callable from generated code. */
  def signature(shingles: ArrayData, numHashes: Int): ArrayData = {
    val n = shingles.numElements()
    val md = MessageDigest.getInstance("MD5")
    val mins = new Array[Long](numHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var j = 0
    while (j < n) {
      val d = HashKernels.md5(md, shingles.getUTF8String(j).getBytes)
      val h = h60(d)
      var i = 0
      while (i < numHashes) {
        val m = mix(i, h)
        if (m < mins(i)) mins(i) = m
        i += 1
      }
      j += 1
    }
    new GenericArrayData(Array.tabulate[Any](numHashes)(i =>
      if (n == 0) null else UTF8String.fromString(java.lang.Long.toString(mins(i)))))
  }
}

/** MinHash signature via [[MinHashMix]]: element i is the minimum of
  * `mix_i(h60(md5(shingle)))` over the shingle set, rendered as a
  * decimal string (so LSH band keys hash strings exactly as before).
  * One md5 + numHashes integer mixes per shingle, one pass; real
  * doGenCode (static kernel call). */
case class MinHashSignatureExpr(child: Expression, numHashes: Int)
    extends UnaryExpression {

  // containsNull = true: an EMPTY shingle array yields k null elements
  // (array_min over nothing is null in the declarative formulation too);
  // declaring non-null would hand codegen consumers garbage for that case
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override protected def withNewChildInternal(c: Expression): MinHashSignatureExpr = copy(child = c)
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(v: Any): Any =
    MinHashMix.signature(v.asInstanceOf[ArrayData], numHashes)

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MinHashMix$$.MODULE$$.signature($c, $numHashes);")
}

/** 16-bit SimHash over a token array: one md5 per token, 16 vote counters
  * — identical math to Dedup's declarative md5-nibble formulation
  * (bit i = bit (3 - i%4) of hex digit i/4). Real doGenCode. */
case class SimHash16Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override protected def withNewChildInternal(c: Expression): SimHash16Expr = copy(child = c)
  override def prettyName: String = "simhash16"

  override def nullSafeEval(v: Any): Any =
    Integer.valueOf(HashKernels.simhash16(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels$$.MODULE$$.simhash16($c);")
}

/** 64-bit SimHash over a token array: one xxhash64 (seed 42 — Spark's
  * `xxhash64` default) per token, 64 vote counters — identical math to
  * the declarative formulation in DedupWitness.simhash64Declarative, which
  * re-tests the SAME precomputed hash per bit but still walks the array
  * through 64 interpreted higher-order filter passes. */
case class SimHash64Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): SimHash64Expr = copy(child = c)
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashKernels.simhash64(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels$$.MODULE$$.simhash64($c);")
}

/** FNV-1a 64-bit over the UTF-8 bytes of a string — the reference's
  * stable per-user rollout hash (reference: src/feature_flags.cpp:70-79).
  * Java Long multiplication wraps = mod 2^64, matching the C++ uint64_t;
  * consumers use `Long.remainderUnsigned` for the bucket. The DuckDB
  * oracle re-derives the identical fold with HUGEINT arithmetic.
  *
  * NOTE the offset basis is the reference's literal `1469598103934665603`
  * — a truncated transcription of the standard FNV-1a64 basis
  * 14695981039346656037 (trailing '7' dropped). Matching the reference's
  * constant bit-for-bit is deliberate: per-user rollout cohorts must not
  * reshuffle when a deployment migrates from the reference to this
  * engine. Do NOT "fix" this to the standard basis. */
case class Fnv1a64Expr(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override protected def withNewChildInternal(c: Expression): Fnv1a64Expr = copy(c)
  override def prettyName: String = "fnv1a64"

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashKernels.fnv1a64(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashKernels$$.MODULE$$.fnv1a64($c);")
}

object HashExpressions {
  import org.apache.spark.sql.graftbridge.Bridge

  def minhashSignature(shingles: Column, numHashes: Int): Column =
    Bridge.column(MinHashSignatureExpr(Bridge.expression(shingles), numHashes))

  def simhash16(tokens: Column): Column =
    Bridge.column(SimHash16Expr(Bridge.expression(tokens)))

  def simhash64(tokens: Column): Column =
    Bridge.column(SimHash64Expr(Bridge.expression(tokens)))

  def fnv1a64(s: Column): Column =
    Bridge.column(Fnv1a64Expr(Bridge.expression(s)))
}
