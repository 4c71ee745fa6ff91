package graft.plans

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression (SURVEY §7.3 path (b)): total BPE token
  * count of a word array under a learned merge table — the single-pass
  * symbol-walk replacement for q148's per-word K-replace chain
  * (`" c h a r s "` spacing via regexp_replace, then one string
  * replace() per merge, inside an interpreted HOF: transform never
  * codegens and the string churn dominates at replica scale — the r13
  * verdict's worst decade row, 57x at 100x).
  *
  * Byte-identical semantics to the replace chain it replaces (and to
  * the DuckDB oracle that replays the same chain):
  *   - symbols start as CODE POINTS (Java regex `.` and RE2 `.` both
  *     match one code point in `regexp_replace(w, "(.)", "$1 ")`);
  *   - each merge (l, r) is one LEFT-TO-RIGHT NON-OVERLAPPING pass of
  *     `replace(s, " l r ", " lr ")` over the ORIGINAL string: the
  *     scanner resumes AFTER the matched region, whose trailing space
  *     was the space BEFORE the next symbol — so after a merge at
  *     (i, i+1), symbol i+2 cannot open a match in the same pass (its
  *     leading space is consumed; " l l l l " -> " ll l l ", NOT
  *     " ll ll ") and the next possible left is i+3. The walk mirrors
  *     this exactly: on a merge, the following symbol is emitted
  *     unexamined. (BpeCountSpec's differential caught this — naive
  *     i += 2 over-merges runs.) Space-delimited patterns can only
  *     match at symbol boundaries, so the walk loses nothing else;
  *   - the empty word counts 1: `size(split(trim(" "), " "))` is 1 in
  *     Spark/DuckDB (split of "" yields [""]), mirrored by the n == 0
  *     guard;
  *   - a null word (impossible from split(), kept for totality) nulls
  *     the per-doc total exactly as `aggregate(..., a + x)` does.
  *
  * Param'd expression (constructed via GraftColumnBridge, not the
  * function registry), Seq params for structural canonicalization —
  * the SqQuantize pattern.
  */
case class BpeCount(child: Expression, ls: Seq[String], rs: Seq[String])
    extends UnaryKernel("bpe_count", "array<string>", LongType,
      "graft.plans.BpeCount.total", nullResult = true) {

  @transient private lazy val lsArr: Array[String] = ls.toArray
  @transient private lazy val rsArr: Array[String] = rs.toArray

  override protected def accepts(t: DataType): Boolean = Kernel.strings(t)
  override protected def nullSafeEval(input: Any): Any =
    BpeCount.total(input.asInstanceOf[ArrayData], lsArr, rsArr)
  override protected def extraArgs(ctx: CodegenContext): Seq[String] = Seq(
    ctx.addReferenceObj("ls", lsArr, "java.lang.String[]"),
    ctx.addReferenceObj("rs", rsArr, "java.lang.String[]"))

  // the entry returns a boxed Long, unboxed here
  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val extra = extraArgs(ctx)
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = ${call(c +: extra)};
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Long) r).longValue(); }
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BpeCount {

  /** One word: code-point symbols, K forward merge passes, surviving
    * symbol count (empty word -> 1, split-of-empty parity). */
  private def countWord(w: String, ls: Array[String],
      rs: Array[String]): Long = {
    val cps = w.codePointCount(0, w.length)
    if (cps == 0) return 1L
    val syms = new Array[String](cps)
    var i = 0
    var k = 0
    while (i < w.length) {
      val cp = w.codePointAt(i)
      val n = Character.charCount(cp)
      syms(k) = w.substring(i, i + n)
      k += 1
      i += n
    }
    var len = cps
    var m = 0
    while (m < ls.length) {
      val l = ls(m)
      val r = rs(m)
      var in = 0
      var out = 0
      while (in < len) {
        if (in + 1 < len && syms(in) == l && syms(in + 1) == r) {
          syms(out) = syms(in) + syms(in + 1)
          out += 1
          in += 2
          // the boundary space after the match is consumed by the
          // scanner: the next symbol passes through unexamined
          if (in < len) {
            syms(out) = syms(in)
            out += 1
            in += 1
          }
        } else {
          syms(out) = syms(in)
          out += 1
          in += 1
        }
      }
      len = out
      m += 1
    }
    len.toLong
  }

  /** Called from both interpreted eval and generated code. Boxed Long
    * (null on a null element, matching aggregate's 3VL sum). */
  def total(arr: ArrayData, ls: Array[String],
      rs: Array[String]): java.lang.Long = {
    val n = arr.numElements()
    var sum = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      sum += countWord(arr.getUTF8String(i).toString, ls, rs)
      i += 1
    }
    java.lang.Long.valueOf(sum)
  }
}
