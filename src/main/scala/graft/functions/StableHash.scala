package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helpers callable from generated code. */
object HashUtil {
  /** Polynomial rolling hash over Unicode codepoints, mod 1e9+7 — the
    * compiled form of fold(chars)((acc*31 + codepoint) % p). Semantics match
    * the interpreted `aggregate(split(s,''), ...)` fold and the DuckDB
    * list_reduce oracle exactly (ascii() = leading codepoint per char). */
  def polyHash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 0L
    var i = 0
    while (i < str.length) {
      val cp = str.codePointAt(i)
      acc = (acc * 31L + cp) % 1000000007L
      i += Character.charCount(cp)
    }
    acc
  }

  /** [[graft.operators.TextAnalysis.mix32]] on one value: the 32-bit
    * xorshift-multiply finalizer over a non-negative hash below 2^32. */
  def mix32(h: Long): Long = {
    var z = h
    z ^= z >>> 16; z = (z * 73244475L) % 4294967296L
    z ^= z >>> 16; z = (z * 73244475L) % 4294967296L
    z ^ (z >>> 16)
  }

  // MessageDigest.getInstance does a provider lookup + fresh instance per
  // call; this hash runs once per raw statement row, so keep one MD5 per
  // task thread (digest() leaves the instance reset for the next row)
  private val tlMd5 =
    ThreadLocal.withInitial[java.security.MessageDigest](
      () => java.security.MessageDigest.getInstance("MD5"))

  /** Stable 64-bit content hash: first 8 bytes of MD5 of the UTF-8 string,
    * as a signed big-endian long. This is the engine's `mk_hash` analog —
    * the reference derives mk_hash from an MD5 of the statement matches-key
    * (INDRA `stmt.get_hash`, used via preassemble_db.py:662-669).
    */
  def md5Long(s: UTF8String): Long = {
    val d = tlMd5.get().digest(s.getBytes)
    ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
      ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
      ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
      ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
  }
}

/** Codegen-friendly scalar expression: stays inside whole-stage codegen via
  * a static call, unlike a Scala UDF (which forces serialization barriers).
  */
case class StableHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"stable_hash64 expects STRING, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    HashUtil.md5Long(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.md5Long($c)")

  override protected def withNewChildInternal(newChild: Expression): StableHash64 =
    copy(child = newChild)
}

/** Codegen'd polynomial rolling hash (see [[HashUtil.polyHash]]) — the hot
  * path of shingle/token/fingerprint hashing. A higher-order `aggregate`
  * fold evaluates its lambda interpreted per element; this stays inside
  * whole-stage codegen as a single static call.
  */
case class PolyHashMod(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash expects STRING, got ${child.dataType}")

  override def nullSafeEval(v: Any): Any =
    HashUtil.polyHash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashUtil.polyHash($c)")

  override protected def withNewChildInternal(newChild: Expression): PolyHashMod =
    copy(child = newChild)
}

object exprs {
  import org.apache.spark.sql.GraftBridge

  /** Column wrapper for [[StableHash64]]. */
  def stable_hash64(c: Column): Column =
    GraftBridge.column(StableHash64(GraftBridge.expression(c)))

  /** Column wrapper for [[PolyHashMod]]. */
  def poly_hash(c: Column): Column =
    GraftBridge.column(PolyHashMod(GraftBridge.expression(c)))

  /** Column wrapper for [[InflateText]]. */
  def inflate_text(c: Column): Column =
    GraftBridge.column(InflateText(GraftBridge.expression(c)))

  /** Column wrapper for [[Pinned]] — pin an expensive expression in its
    * own projection (see Pinned's scaladoc). */
  def pinned(c: Column): Column =
    GraftBridge.column(Pinned(GraftBridge.expression(c)))
}
