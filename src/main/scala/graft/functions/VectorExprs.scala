package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Compiled vector kernels for the similarity operators.
  *
  * Both preserve the EXACT float->double sequential-fold semantics of the
  * interpreted `aggregate`/`zip_with` forms (same operation order => same
  * bits), so results stay engine-portable; they just run as tight compiled
  * loops instead of per-element interpreted lambdas (~10x on the
  * all-pairs cosine path).
  */
object VectorKernels {
  /** Sequential dot product of two float arrays in double. */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** Sign-LSH bucket: bit p set iff the sequential fold of
    * v[d-1] * s(p, d) over d=1..dim is > 0, with the deterministic ±1
    * plane component s(p,d) = ((p*7919 + d*104729) % 3 == 0) ? -1 : 1.
    * Matches Similarity.signBucket's interpreted form bit-for-bit. */
  def signBucket(v: ArrayData, planes: Int): Long = {
    val dim = v.numElements()
    var bucket = 0L
    var p = 0
    while (p < planes) {
      var acc = 0.0
      var d = 1
      while (d <= dim) {
        val s = if ((p * 7919 + d * 104729) % 3 == 0) -1.0 else 1.0
        acc += v.getFloat(d - 1).toDouble * s
        d += 1
      }
      if (acc > 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }
}

case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.VectorKernels.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}

case class SignLshBucket(child: Expression, planes: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    VectorKernels.signBucket(v.asInstanceOf[ArrayData], planes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.signBucket($c, $planes)")
  override protected def withNewChildInternal(newChild: Expression): SignLshBucket =
    copy(child = newChild)
}

object MinHashKernel {
  /** k affine minhashes h_i = min over hashes of (a_i*h + b_i) mod p with
    * a_i = 131i+7, b_i = 97i+3 — one pass over the shingle-hash array,
    * identical values to the params-join + groupBy-min formulation. */
  def sig(hashes: org.apache.spark.sql.catalyst.util.ArrayData, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = hashes.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < k) {
        val v = ((131L * i + 7L) * h + (97L * i + 3L)) % 1000000007L
        if (v < mins(i)) mins(i) = v
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

object RotateKernel {
  /** Deterministic ±1 sign for dimension j — the low bit of
    * [[HashUtil.mix32]] (small constant, no 64-bit overflow anywhere the
    * oracle can't follow). */
  def sign(j: Int): Double =
    if ((HashUtil.mix32(j.toLong) & 1L) == 0L) 1.0 else -1.0

  /** The sign diagonal for a given dim — the oracle inlines this as a SQL
    * literal so both engines flip the same coordinates. */
  def signs(dim: Int): Seq[Double] = (0 until dim).map(sign)

  /** Signed Walsh-Hadamard rotation y = (H · D · x) / sqrt(dim):
    * D = diag(sign(j)), H_{ij} = (-1)^popcount(i AND j). A true
    * orthogonal rotation (exact distances preserved): dim is a power of
    * two, so sqrt(dim) is exact in binary FP and every per-term product
    * is an exact sign flip — only the in-order additions round, and the
    * DuckDB oracle replays the identical fold. Deliberately the naive
    * O(dim^2) sum, NOT the O(dim log dim) FWHT butterfly: the butterfly
    * accumulates in a different order and would break bit-parity with
    * any relational replay; at PQ dims (64-1024) the compiled quadratic
    * loop is nowhere near the encode cost. Float input, double output. */
  def rotate(v: ArrayData, dim: Int): ArrayData = {
    val scale = math.sqrt(dim.toDouble)
    val out = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      var acc = 0.0
      var j = 0
      while (j < dim) {
        val h = if (java.lang.Integer.bitCount(i & j) % 2 == 0) 1.0 else -1.0
        acc += v.getFloat(j).toDouble * (sign(j) * h)
        j += 1
      }
      out(i) = acc / scale
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class HadamardRotate(child: Expression, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    RotateKernel.rotate(v.asInstanceOf[ArrayData], dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.RotateKernel.rotate($c, $dim)")
  override protected def withNewChildInternal(newChild: Expression): HadamardRotate =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    MinHashKernel.sig(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MinHashKernel.sig($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object SimHashKernel {
  /** 32-bit SimHash of a token array in one pass: each token's poly_hash,
    * spread by [[HashUtil.mix32]], votes on every bit, and bit b is set where
    * 2 × (tokens with bit b set) > token count (ties clear the bit).
    * Value-identical to Dedup.simhash over the same tokens exploded one per
    * row: a null token counts toward the total and sets no bit, and an
    * empty array has no fingerprint (null), as a document without token
    * rows has no group. */
  def sig(toks: ArrayData): java.lang.Long = {
    val n = toks.numElements()
    if (n == 0) return null
    val set = new Array[Int](32)
    var j = 0
    while (j < n) {
      if (!toks.isNullAt(j)) {
        val h = HashUtil.mix32(HashUtil.polyHash(toks.getUTF8String(j)))
        var b = 0
        while (b < 32) {
          set(b) += ((h >>> b) & 1L).toInt
          b += 1
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 32) {
      if (set(b).toLong * 2 > n) out |= 1L << b
      b += 1
    }
    out
  }
}

case class SimHashSig(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    SimHashKernel.sig(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("simhash")
      s"""
      java.lang.Long $tmp = graft.functions.SimHashKernel.sig($c);
      ${ev.isNull} = $tmp == null;
      ${ev.value} = ${ev.isNull} ? -1L : $tmp.longValue();"""
    })
  override protected def withNewChildInternal(newChild: Expression): SimHashSig =
    copy(child = newChild)
}

object ShingleKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** Word n-gram shingles in one compiled pass: trim, split on whitespace
    * runs, emit each n-token window joined by single spaces. Semantics
    * identical to split(trim(text), "\\s+") + transform/slice/array_join.
    */
  def shingles(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = text.toString.trim.split("\\s+")
    val count = toks.length - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleKernel.shingles(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleKernel.shingles($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

object ShingleHashKernel {
  import org.apache.spark.unsafe.types.UTF8String

  /** poly_hash of each n-token window WITHOUT building the window strings.
    * The rolling hash is linear — h(a ++ b) = (h(a) * 31^|b| + h(b)) mod p
    * with |.| counted in code points — so each token is folded once into a
    * (hash, 31^len) pair and every window hash composes from those pairs
    * through the joining-space step: O(text + windows*n) multiplies and
    * zero allocation, versus the shingle-string path's O(windows*n*tokLen)
    * char scans plus one string per window. Value-identical to
    * poly_hash(word_shingles(text, n)[i]) by linearity (tokenization is
    * the same trim + whitespace-run split).
    */
  def shingleHashes(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val P = 1000000007L
    val toks = text.toString.trim.split("\\s+")
    val count = toks.length - n + 1
    if (count <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val m = toks.length
    val h = new Array[Long](m)
    val pw = new Array[Long](m)
    var i = 0
    while (i < m) {
      val t = toks(i)
      var acc = 0L
      var pow = 1L
      var j = 0
      while (j < t.length) {
        val cp = t.codePointAt(j)
        acc = (acc * 31L + cp) % P
        pow = (pow * 31L) % P
        j += Character.charCount(cp)
      }
      h(i) = acc; pw(i) = pow; i += 1
    }
    val out = new Array[Any](count)
    i = 0
    while (i < count) {
      var acc = h(i)
      var j = 1
      while (j < n) {
        // the single joining space (code point 32), then the next token:
        // acc*pw < p^2 < 2^60, no overflow
        acc = (acc * 31L + 32L) % P
        acc = (acc * pw(i + j) + h(i + j)) % P
        j += 1
      }
      out(i) = java.lang.Long.valueOf(acc)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

case class WordShingleHashes(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ShingleHashKernel.shingleHashes(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ShingleHashKernel.shingleHashes($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingleHashes =
    copy(child = newChild)
}

object vectors {
  import org.apache.spark.sql.GraftBridge

  def float_dot(a: Column, b: Column): Column =
    GraftBridge.column(FloatDot(GraftBridge.expression(a), GraftBridge.expression(b)))

  def sign_lsh_bucket(v: Column, planes: Int): Column =
    GraftBridge.column(SignLshBucket(GraftBridge.expression(v), planes))

  def minhash_sig(hashes: Column, k: Int): Column =
    GraftBridge.column(MinHashSig(GraftBridge.expression(hashes), k))

  def simhash_sig(tokens: Column): Column =
    GraftBridge.column(SimHashSig(GraftBridge.expression(tokens)))

  def word_shingles(text: Column, n: Int): Column =
    GraftBridge.column(WordShingles(GraftBridge.expression(text), n))

  def shingle_hashes(text: Column, n: Int): Column =
    GraftBridge.column(WordShingleHashes(GraftBridge.expression(text), n))

  def hadamard_rotate(v: Column, dim: Int): Column = {
    require(dim > 0 && (dim & (dim - 1)) == 0,
      s"hadamard_rotate needs a power-of-two dim (got $dim)")
    GraftBridge.column(HadamardRotate(GraftBridge.expression(v), dim))
  }

  def text_stats(
      text: Column, stopwords: Seq[String],
      profiles: Seq[Seq[String]]): Column =
    GraftBridge.column(
      TextStats(GraftBridge.expression(text), stopwords, profiles))
}
