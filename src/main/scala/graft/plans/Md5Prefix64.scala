package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.security.MessageDigest

/** Native Catalyst expression (SURVEY §7.3 path (b)): the unsigned 32-bit
  * value of the first 4 md5 bytes, as a long — i.e. exactly
  * `conv(substring(md5(x), 1, 8), 16, 10)` but in ONE codegen'd kernel with
  * no hex-string round trip (the composed form materializes a 32-char hex
  * string and re-parses it per row; in the MinHash pipeline this runs once
  * per shingle, i.e. billions of times at 100 TB).
  */
case class Md5Prefix64(child: Expression) extends UnaryKernel("md5_prefix64",
    "a string argument", LongType, "graft.plans.Md5Prefix64.hash") {
  override protected def accepts(t: DataType): Boolean = t == StringType
  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix64.hash(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** One MD5 digester per thread, shared by the md5 kernels
  * ([[Md5Prefix64]], [[Md5Prefix60]], [[MinMd5Hex]]). */
private[plans] object Md5 {
  private val digests = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** This thread's digester, reset. */
  def digester(): MessageDigest = {
    val md = digests.get()
    md.reset()
    md
  }

  /** The 16 md5 bytes of `s`. */
  def of(s: UTF8String): Array[Byte] = digester().digest(s.getBytes)
}

object Md5Prefix64 {
  /** Called from both interpreted eval and generated code. */
  def hash(s: UTF8String): Long = {
    val d = Md5.of(s)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }
}

/** 60-bit md5 prefix: the first 15 hex nibbles of md5(x) as a long —
  * the widest md5 prefix whose DuckDB mirror stays INTEGER-EXACT: split
  * 7 + 8 nibbles, each half sums exactly in doubles (< 2^32), recombined
  * as BIGINT hi * 16^8 + lo <= 16^15 - 1 < 2^63. The 32-bit
  * [[Md5Prefix64]] is fine as a bucket key with a verify stage behind it,
  * but as a MATCH predicate it saturates at corpus scale: 10^12 segments
  * over 2^32 buckets puts ~250 distinct contents in EVERY bucket, so a
  * frequency/dedup query keyed on it would flag essentially everything.
  * At 60 bits the expected cross-content collisions at 10^12 keys are
  * ~400 globally — rare enough that a content-verify stage over the
  * collision mass is effectively free. */
case class Md5Prefix60(child: Expression) extends UnaryKernel("md5_prefix60",
    "a string argument", LongType, "graft.plans.Md5Prefix60.hash") {
  override protected def accepts(t: DataType): Boolean = t == StringType
  override protected def nullSafeEval(input: Any): Any =
    Md5Prefix60.hash(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Md5Prefix60 {
  /** First 8 md5 bytes big-endian, shifted right 4: the top 15 nibbles. */
  def hash(s: UTF8String): Long = {
    val d = Md5.of(s)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }
}
