package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression (SURVEY §7.3 path (b)): content-defined
  * chunking cut positions for a document — the boundary step of CDC
  * deduplication (LBFS/rsync lineage), which finds duplicate content that
  * survives insertions/deletions because boundaries depend on LOCAL bytes,
  * not absolute offsets (a fixed n-gram scheme like q126's shifts every
  * span after one inserted char; CDC re-synchronizes within one window).
  *
  * Definition (mirrored integer-exactly by the DuckDB oracle's window-sum
  * form): with 1-based character positions i and code points c_i, the
  * rolling value h_i = Σ c_j over j ∈ [i-15, i] (window W=16); position i
  * is a cut iff i ≥ 16, i < n, and (h_i · 2654435761) % 64 == 0 (the
  * Knuth multiplicative mix spreads the low bits of the additive window
  * sum; expected chunk length ≈ 64 chars). Returned as array<bigint> of
  * interior cut positions, ascending.
  *
  * Why an expression and not SQL: the declarative equivalent explodes one
  * row per CHARACTER and window-sums over a doc_id partition — an exchange
  * + sort carrying |text| rows per document. This kernel is one O(n) pass
  * per row inside whole-stage codegen, so the chunking stage is map-only
  * and scales with scan bandwidth alone.
  */
case class CdcCuts(child: Expression) extends UnaryKernel("cdc_cuts",
    "a string argument", ArrayType(LongType, containsNull = false),
    "graft.plans.CdcCuts.compute") {
  override protected def accepts(t: DataType): Boolean = t == StringType
  override protected def nullSafeEval(input: Any): Any =
    CdcCuts.compute(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CdcCuts {
  private final val Window = 16
  private final val Mix = 2654435761L
  private final val MaskMod = 64

  /** Called from both interpreted eval and generated code. Iterates CODE
    * POINTS (not UTF-16 units) so positions line up with DuckDB's
    * character-indexed `text[i]` / `length()` on any input, not just ASCII. */
  def compute(s: UTF8String): ArrayData = {
    val str = s.toString
    val cps = str.codePoints().toArray
    val n = cps.length
    var win = 0L
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < n) {
      win += cps(i)
      if (i >= Window) win -= cps(i - Window)
      val pos = i + 1
      if (pos >= Window && pos < n && (win * Mix) % MaskMod == 0) cuts += pos.toLong
      i += 1
    }
    new GenericArrayData(cuts.toArray)
  }
}
