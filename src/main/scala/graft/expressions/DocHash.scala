package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Per-document text hashing as native codegen'd kernels: ONE JVM loop
  * per document splits the (already lowercased) text into words, hashes
  * every token or word 3-shingle once, and folds the hashes into the
  * document's MinHash minima ([[MinHashSignature]]) or its signed,
  * L2-normalized feature-hash embedding ([[HashEmbed]]). The relational
  * formulations these replace exploded one row per shingle/token and
  * shuffled them into per-document aggregates; here the whole feature
  * is computed map-side, in the scan's stage, with no shuffle.
  *
  * Callers pass `lower(text)` as the child, so lowercasing is Spark's
  * own `Lower` inlined into the same generated loop. Words are the
  * maximal runs of non-`[ \t\n\x0B\f\r]` bytes — exactly the non-empty
  * pieces of `split(lower(text), "\\s+")` (Java's `\s`; every separator
  * is one ASCII byte, never inside a multi-byte UTF-8 sequence).
  *
  * Both `Dedup.SigHash` families are bit-identical to the Spark SQL
  * expressions they stand for:
  *  - Xx64: a shingle hashes as `xxhash64(w1, w2, w3)` (seed 42,
  *    chained), a token as `xxhash64(tk)`; the MinHash permutation `i`
  *    of `h` is `xxhash64(h, i)`; an embedding token lands in bucket
  *    `pmod(xxhash64(tk), dim)` with sign `+1` iff `xxhash64(tk, 1)` is
  *    even.
  *  - Md5: a shingle/token hashes to [[DocHash.md5u32]] of its UTF-8
  *    bytes (shingle words joined by one space); permutation `i` is
  *    `(a_i·h + b_i) mod MixP`; an embedding token lands in bucket
  *    `h mod dim` with sign `+1` iff bit 16 of `h` is clear.
  */
object DocHash {

  /** Md5-mode permutation family: universal affine hashes
    * `(a·h + b) mod MixP` over the md5-derived base hash — ONE md5 per
    * shingle, not one per (shingle × seed). Exact in long arithmetic
    * (a, b < 2²⁹ and h < 2³² keep the product < 2⁶¹) and in any SQL
    * BIGINT; the DuckDB oracle SQL embeds the same constants, generated
    * from [[mixConsts]], so the two engines cannot drift.
    */
  val MixP = 4294967291L // largest prime < 2³²

  def mixConsts(numHashes: Int): IndexedSeq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed5eedL)
    (0 until numHashes).map { _ =>
      (1L + rnd.nextInt((1 << 29) - 1).toLong, rnd.nextInt(1 << 29).toLong)
    }
  }

  private val Seed = 42L // Spark's xxhash64 seed

  private def isSpace(b: Byte): Boolean = b == 32 || (b >= 9 && b <= 13)

  /** UTF-8 bytes as `split` sees them: Spark splits the decoded Java
    * string, so a malformed sequence reaches the tokens as U+FFFD.
    */
  private def utf8(s: UTF8String): Array[Byte] =
    (if (s.isValid) s else UTF8String.fromString(s.toString)).getBytes

  /** Word boundaries as `start, end` pairs of byte offsets. */
  private def words(b: Array[Byte]): Array[Int] = {
    var n = 0
    var i = 0
    var inWord = false
    while (i < b.length) {
      val sp = isSpace(b(i))
      if (!sp && !inWord) n += 1
      inWord = !sp
      i += 1
    }
    val out = new Array[Int](2 * n)
    var k = 0
    i = 0
    inWord = false
    while (i < b.length) {
      val sp = isSpace(b(i))
      if (!sp && !inWord) { out(k) = i; k += 1 }
      else if (sp && inWord) { out(k) = i; k += 1 }
      inWord = !sp
      i += 1
    }
    if (inWord) out(k) = b.length
    out
  }

  private def xxBytes(b: Array[Byte], from: Int, until: Int, seed: Long): Long =
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET + from, until - from,
      seed)

  /** MinHash minima of a document's word 3-shingles; null when the text
    * has fewer than 3 words (no shingle, no similarity signal). `mix` is
    * [[mixConsts]] flattened to `a0, b0, a1, b1, …` for the Md5 family,
    * null for Xx64.
    */
  def minhash(s: UTF8String, numHashes: Int, mix: Array[Long]): ArrayData = {
    val b = utf8(s)
    val w = words(b)
    val nw = w.length / 2
    if (nw < 3) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    // an Md5 shingle is its words re-joined by single spaces: never
    // longer than its span in the text
    val sgl = if (mix != null) new Array[Byte](b.length) else null
    var i = 0
    while (i + 2 < nw) {
      var j = 0
      if (mix == null) {
        var h = Seed
        while (j < 3) {
          val k = 2 * (i + j)
          h = xxBytes(b, w(k), w(k + 1), h)
          j += 1
        }
        val hl = XXH64.hashLong(h, Seed)
        var p = 0
        while (p < numHashes) {
          val m = XXH64.hashInt(p, hl)
          if (m < mins(p)) mins(p) = m
          p += 1
        }
      } else {
        var len = 0
        while (j < 3) {
          val k = 2 * (i + j)
          if (j > 0) { sgl(len) = ' '; len += 1 }
          val wl = w(k + 1) - w(k)
          System.arraycopy(b, w(k), sgl, len, wl)
          len += wl
          j += 1
        }
        val h = md5u32(sgl, 0, len)
        var p = 0
        while (p < numHashes) {
          val m = (h * mix(2 * p) + mix(2 * p + 1)) % MixP
          if (m < mins(p)) mins(p) = m
          p += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  /** Signed feature-hash embedding of a document's tokens, divided by
    * its L2 norm; null when the norm is zero (no tokens, or signs that
    * cancel in every bucket). The bucket sums are small integers, so
    * the norm — and every component — is exact regardless of summation
    * order.
    */
  def embed(s: UTF8String, dim: Int, md5: Boolean): ArrayData = {
    val b = utf8(s)
    val w = words(b)
    val v = new Array[Double](dim)
    var k = 0
    while (k < w.length) {
      if (md5) {
        val h = md5u32(b, w(k), w(k + 1) - w(k))
        v((h % dim).toInt) += (if (((h >> 16) & 1L) == 0L) 1.0 else -1.0)
      } else {
        val h = xxBytes(b, w(k), w(k + 1), Seed)
        val sign = XXH64.hashInt(1, h)
        v(java.lang.Math.floorMod(h, dim.toLong).toInt) +=
          (if ((sign & 1L) == 0L) 1.0 else -1.0)
      }
      k += 2
    }
    var sq = 0.0
    var i = 0
    while (i < dim) { sq += v(i) * v(i); i += 1 }
    if (!(sq > 0.0)) return null
    val norm = java.lang.Math.sqrt(sq)
    i = 0
    while (i < dim) { v(i) = v(i) / norm; i += 1 }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** The engine-neutral 32-bit hash: the first 4 bytes of MD5(s), big
    * endian, as a long in [0, 2³²) — what DuckDB computes as
    * `('0x' || substr(md5(s), 1, 8))::BIGINT`.
    */
  def md5u32(s: UTF8String): Long = {
    val b = s.getBytes
    md5u32(b, 0, b.length)
  }

  private val Shift = Array(7, 12, 17, 22, 5, 9, 14, 20, 4, 11, 16, 23,
    6, 10, 15, 21)
  private val K = Array(
    0xd76aa478, 0xe8c7b756, 0x242070db, 0xc1bdceee, 0xf57c0faf, 0x4787c62a,
    0xa8304613, 0xfd469501, 0x698098d8, 0x8b44f7af, 0xffff5bb1, 0x895cd7be,
    0x6b901122, 0xfd987193, 0xa679438e, 0x49b40821, 0xf61e2562, 0xc040b340,
    0x265e5a51, 0xe9b6c7aa, 0xd62f105d, 0x02441453, 0xd8a1e681, 0xe7d3fbc8,
    0x21e1cde6, 0xc33707d6, 0xf4d50d87, 0x455a14ed, 0xa9e3e905, 0xfcefa3f8,
    0x676f02d9, 0x8d2a4c8a, 0xfffa3942, 0x8771f681, 0x6d9d6122, 0xfde5380c,
    0xa4beea44, 0x4bdecfa9, 0xf6bb4b60, 0xbebfbc70, 0x289b7ec6, 0xeaa127fa,
    0xd4ef3085, 0x04881d05, 0xd9d4d039, 0xe6db99e5, 0x1fa27cf8, 0xc4ac5665,
    0xf4292244, 0x432aff97, 0xab9423a7, 0xfc93a039, 0x655b59c3, 0x8f0ccc92,
    0xffeff47d, 0x85845dd1, 0x6fa87e4f, 0xfe2ce6e0, 0xa3014314, 0x4e0811a1,
    0xf7537e82, 0xbd3af235, 0x2ad7d2bb, 0xeb86d391)

  /** MD5 (RFC 1321) of `b[off, off+len)`, returning only the first 32
    * bits of the digest as [[md5u32]] defines them — no digest array,
    * no hex string.
    */
  def md5u32(b: Array[Byte], off: Int, len: Int): Long = {
    var a0 = 0x67452301
    var b0 = 0xefcdab89
    var c0 = 0x98badcfe
    var d0 = 0x10325476
    val x = new Array[Int](16)
    // message + 0x80 + zero pad + 8-byte bit length, in 64-byte blocks
    val total = ((len + 8) / 64 + 1) * 64
    var blk = 0
    while (blk < total) {
      var i = 0
      while (i < 16) {
        val p = blk + 4 * i
        if (p + 3 < len) {
          val q = off + p
          x(i) = (b(q) & 0xff) | ((b(q + 1) & 0xff) << 8) |
            ((b(q + 2) & 0xff) << 16) | (b(q + 3) << 24)
        } else {
          var word = 0
          var j = 0
          while (j < 4) {
            val pj = p + j
            val byte =
              if (pj < len) b(off + pj) & 0xff else if (pj == len) 0x80 else 0
            word |= byte << (8 * j)
            j += 1
          }
          x(i) = word
        }
        i += 1
      }
      if (blk + 64 == total) {
        val bits = len.toLong * 8
        x(14) = bits.toInt
        x(15) = (bits >>> 32).toInt
      }
      var a = a0
      var bb = b0
      var c = c0
      var d = d0
      i = 0
      while (i < 64) {
        var f = 0
        var g = 0
        (i >> 4) match {
          case 0 => f = (bb & c) | (~bb & d); g = i
          case 1 => f = (d & bb) | (~d & c); g = (5 * i + 1) & 15
          case 2 => f = bb ^ c ^ d; g = (3 * i + 5) & 15
          case _ => f = c ^ (bb | ~d); g = (7 * i) & 15
        }
        f = f + a + K(i) + x(g)
        a = d
        d = c
        c = bb
        bb = bb + Integer.rotateLeft(f, Shift(((i >> 4) << 2) | (i & 3)))
        i += 1
      }
      a0 += a
      b0 += bb
      c0 += c
      d0 += d
      blk += 64
    }
    Integer.reverseBytes(a0) & 0xffffffffL
  }
}

/** Shared shape of the per-document kernels: a string child (the
  * lowercased text), null in → null out, and codegen as one static
  * kernel call per row whose null result nulls the output.
  */
abstract class DocHashExpression extends UnaryExpression {
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.sql}")
  }

  /** Java call of the kernel on the child's value `c`. */
  protected def kernelCall(ctx: CodegenContext, c: String): String

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = ${kernelCall(ctx, c)};
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin)
}

/** `numHashes` MinHash minima of the child's word 3-shingles,
  * `array<bigint>` (see [[DocHash.minhash]]).
  */
case class MinHashSignature(child: Expression, numHashes: Int, md5: Boolean)
    extends DocHashExpression {

  override def prettyName: String = "graft_minhash"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  @transient private lazy val mix: Array[Long] =
    if (md5) DocHash.mixConsts(numHashes).flatMap { case (a, b) => Seq(a, b) }
      .toArray
    else null

  override def nullSafeEval(v: Any): Any =
    DocHash.minhash(v.asInstanceOf[UTF8String], numHashes, mix)

  override protected def kernelCall(ctx: CodegenContext, c: String): String = {
    val m = if (md5) ctx.addReferenceObj("mix", mix, "long[]") else "null"
    s"graft.expressions.DocHash.minhash($c, $numHashes, $m)"
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `dim`-wide signed feature-hash embedding of the child's tokens,
  * L2-normalized, `array<double>` (see [[DocHash.embed]]).
  */
case class HashEmbed(child: Expression, dim: Int, md5: Boolean)
    extends DocHashExpression {

  override def prettyName: String = "graft_hash_embed"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(v: Any): Any =
    DocHash.embed(v.asInstanceOf[UTF8String], dim, md5)

  override protected def kernelCall(ctx: CodegenContext, c: String): String =
    s"graft.expressions.DocHash.embed($c, $dim, $md5)"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** [[DocHash.md5u32]] of a string, `bigint` — the Md5 family's base
  * hash wherever it is used outside the document kernels.
  */
case class Md5U32(child: Expression) extends UnaryExpression {

  override def prettyName: String = "graft_md5u32"
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string input, got ${other.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    DocHash.md5u32(v.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.expressions.DocHash.md5u32($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
