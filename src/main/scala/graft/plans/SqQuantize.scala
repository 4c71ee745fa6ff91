package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression (SURVEY §7.3 path (b)): per-dim affine
  * scalar quantization of a float vector —
  * `round((x_i − mn_i)·L/(mx_i − mn_i)) − L/2` with the exact BigDecimal
  * HALF_UP rounding Spark's own `round()` uses, so the result is
  * byte-identical to the HOF-lambda form it replaces. The lambda form
  * never codegens (HOFs run interpreted) and pays Catalyst eval
  * machinery per ELEMENT; this kernel is one fused JVM loop per row —
  * q257 quantizes at three bit widths per corpus row, so at the 1000x
  * replica the interpreted path was the dominant cost.
  *
  * Degenerate dims (mx ≤ mn) quantize to 0, matching the guarded HOF and
  * the oracle's CASE.
  */
case class SqQuantize(child: Expression, mns: Seq[Double],
    mxs: Seq[Double], levels: Long) extends UnaryKernel("sq_quantize",
      "array<float>", ArrayType(DoubleType, false),
      "graft.plans.SqQuantize.quantize") {

  // Seq params (structural equals/hashCode) so Catalyst canonicalization
  // and subexpression/exchange reuse recognize semantically identical
  // instances — Array params compare by reference and silently defeat
  // both. The hot loop still runs on primitive arrays, built once here.
  @transient private lazy val mnsArr: Array[Double] = mns.toArray
  @transient private lazy val mxsArr: Array[Double] = mxs.toArray

  override protected def accepts(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    SqQuantize.quantize(input.asInstanceOf[ArrayData], mnsArr, mxsArr,
      levels)
  override protected def extraArgs(ctx: CodegenContext): Seq[String] = Seq(
    ctx.addReferenceObj("mns", mnsArr, "double[]"),
    ctx.addReferenceObj("mxs", mxsArr, "double[]"), s"${levels}L")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SqQuantize {
  /** HALF_UP on the double's SHORTEST-DECIMAL value (what Spark's
    * `round()` / `BigDecimal.valueOf` computes), without the
    * Double.toString parse: 0.5 is exactly representable in binary, so
    * `frac >= 0.5` decides identically on the binary value and on its
    * shortest decimal (a decimal ≥ 0.5 can never be the shortest form
    * of a double < 0.5 and vice versa). Pure arithmetic — the
    * BigDecimal form cost ~5x the whole kernel. */
  private def roundHalfUp(v: Double): Long =
    if (v >= 0) {
      val f = math.floor(v)
      (if (v - f >= 0.5) f + 1 else f).toLong
    } else {
      val c = math.ceil(v)
      (if (c - v >= 0.5) c - 1 else c).toLong
    }

  /** Called from both interpreted eval and generated code. */
  def quantize(arr: ArrayData, mns: Array[Double], mxs: Array[Double],
      levels: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n)
    val half = levels / 2
    var i = 0
    while (i < n) {
      val mn = mns(i)
      val mx = mxs(i)
      out(i) = if (mx > mn) {
        val x = arr.getFloat(i).toDouble
        (roundHalfUp((x - mn) * levels / (mx - mn)) - half).toDouble
      } else 0d
      i += 1
    }
    new GenericArrayData(out)
  }
}
