package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression (SURVEY §7.3 path (b)): Σ f² over the
  * character-bigram frequencies of a string — the numerator of the
  * Gini–Simpson repetitiveness index a template-spam audit needs per
  * document. One codegen'd pass per row with a local count map; the
  * SQL-composable alternative (explode one row per character, count,
  * re-aggregate) shuffles the corpus BY CHARACTER — at 100 TB that is a
  * corpus-bytes-sized exchange for a value each doc can compute locally.
  * Bigrams are CODE-POINT pairs, exactly DuckDB's
  * `substr(text, i, 2) for i in 1..length(text)-1` (both engines index
  * strings by code point), so the oracle mirror is integer-exact.
  */
case class BigramSqSum(child: Expression) extends UnaryKernel("bigram_sq_sum",
    "a string argument", LongType, "graft.plans.BigramSqSum.sqSum") {
  override protected def accepts(t: DataType): Boolean = t == StringType
  override protected def nullSafeEval(input: Any): Any =
    BigramSqSum.sqSum(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BigramSqSum {
  /** Called from both interpreted eval and generated code. Code points
    * fit 21 bits, so a bigram packs collision-free into one long. */
  def sqSum(s: UTF8String): Long = {
    val str = s.toString
    val n = str.length
    if (n < 2) return 0L
    val counts = new java.util.HashMap[java.lang.Long, Array[Long]]()
    var i = 0
    var prev = -1
    while (i < n) {
      val cp = str.codePointAt(i)
      i += Character.charCount(cp)
      if (prev >= 0) {
        val key = java.lang.Long.valueOf((prev.toLong << 21) | cp.toLong)
        val c = counts.get(key)
        if (c == null) counts.put(key, Array(1L)) else c(0) += 1L
      }
      prev = cp
    }
    var ssq = 0L
    val it = counts.values().iterator()
    while (it.hasNext) { val c = it.next()(0); ssq += c * c }
    ssq
  }
}
