package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native fingerprint kernels (SURVEY §7.3 path (b)) for the document
  * fingerprint family (ref `str/kernels` fingerprinting; q46): the composed
  * form `array_min(transform(ws, w => md5(w)))` runs through an interpreted
  * HOF and materializes a 32-char hex string per element just to compare —
  * per word and per shingle that is millions of allocations per partition
  * at sf0.1 and billions at 100 TB. Hex encoding is monotone in the digest
  * bytes, so the minimum hex string == hex of the unsigned-byte-min digest:
  * one codegen'd loop keeps a 16-byte running min and hex-encodes ONCE per
  * row. Null elements are skipped (array_min / list_min semantics); an
  * empty or all-null array yields null.
  */
case class MinMd5Hex(child: Expression) extends UnaryKernel("min_md5_hex",
    "array<string>", StringType, "graft.plans.MinMd5Hex.minHex",
    nullResult = true) {
  override protected def accepts(t: DataType): Boolean = Kernel.strings(t)
  override protected def nullSafeEval(input: Any): Any =
    MinMd5Hex.minHex(input.asInstanceOf[ArrayData])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinMd5Hex {
  private val hexDigits = "0123456789abcdef".getBytes

  private def hex(d: Array[Byte]): UTF8String = {
    val out = new Array[Byte](32)
    var i = 0
    while (i < 16) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** Called from both interpreted eval and generated code. */
  /** The unsigned-smaller of `best` (null: none yet) and `d`. */
  private def lower(best: Array[Byte], d: Array[Byte]): Array[Byte] =
    if (best == null || java.util.Arrays.compareUnsigned(d, best) < 0) d
    else best

  def minHex(arr: ArrayData): UTF8String = {
    val n = arr.numElements()
    var best: Array[Byte] = null
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) best = lower(best, Md5.of(arr.getUTF8String(i)))
      i += 1
    }
    if (best == null) null else hex(best)
  }

  private val space = " ".getBytes

  /** min-over-shingles md5, fused: digests `words[i..i+n-1]` joined by a
    * single space WITHOUT building the shingle string (MessageDigest is
    * streamed word bytes + separator). Byte-identical to
    * `md5(concat_ws(" ", slice(ws, i, n)))`. Returns null when fewer than
    * n words (empty shingle set). A null word inside a window makes that
    * window null (skipped) — concat_ws would instead drop the element, but
    * tokenized text never contains nulls. */
  def minShingleHex(arr: ArrayData, n: Int): UTF8String = {
    val len = arr.numElements()
    if (n <= 0 || len < n) return null
    var best: Array[Byte] = null
    var i = 0
    while (i <= len - n) {
      var ok = true
      var j = i
      while (ok && j < i + n) { if (arr.isNullAt(j)) ok = false; j += 1 }
      if (ok) {
        val md = Md5.digester()
        j = i
        while (j < i + n) {
          if (j > i) md.update(space)
          md.update(arr.getUTF8String(j).getBytes)
          j += 1
        }
        best = lower(best, md.digest())
      }
      i += 1
    }
    if (best == null) null else hex(best)
  }
}

/** `min_shingle_md5_hex(words, n)` — see [[MinMd5Hex.minShingleHex]]. */
case class MinShingleMd5Hex(left: Expression, right: Expression)
    extends BinaryKernel("min_shingle_md5_hex", "(array<string>, int)",
      StringType, "graft.plans.MinMd5Hex.minShingleHex", nullResult = true) {
  override protected def accepts(l: DataType, r: DataType): Boolean =
    Kernel.strings(l) && r == IntegerType
  override protected def nullSafeEval(words: Any, n: Any): Any =
    MinMd5Hex.minShingleHex(words.asInstanceOf[ArrayData],
      n.asInstanceOf[Int])
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}
