package graft.plans

import java.math.{BigDecimal => JBigDecimal, RoundingMode}

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused int8-quantization statistics over a numeric array — the hot
  * kernel of q104 (vector-storage compression audit): one primitive pass
  * computes `[sc, q_sum, max_err]` where `sc = (max-min)/255`,
  * `q_sum = Σ round((x-min)/sc)` and `max_err = max |min + q·sc - x|`.
  *
  * The composed HOF form (`TextOps.quantizeInt8` + aggregate/zip_with)
  * walks five interpreted lambdas per row AND — because `bindOnce`'s
  * alias barrier is opaque to `SimplifyExtractValueOps` — re-evaluates
  * the whole pipeline once per referenced output field (measured 3x at
  * the 100x replica: 35 s vs 12 s single-eval). This kernel is one fused
  * loop with three scalar outputs, so even multiple references stay
  * cheap.
  *
  * Bit-equality with the HOF form and the DuckDB oracle: elements cast
  * float→double (exact); rounding replicates Spark `round`'s
  * `BigDecimal.valueOf(d).setScale(0, HALF_UP)` exactly (DuckDB's
  * `round` matched it on the gate already); the error expression
  * evaluates as `(mn + (q*sc)) - x` in IEEE double, the same
  * association as the Column form; min/max skip null elements like
  * `array_min/array_max` (the fixtures carry none). Returns null for a
  * null or empty input (the HOF's null min does the same); when
  * `sc <= 0` (constant vector) q_sum/max_err are 0 and callers filter on
  * `result[0] > 0` exactly as they filtered `sc > 0`.
  */
case class QuantizeStats(child: Expression) extends UnaryKernel(
    "quantize_stats", "an array<float|double> argument",
    ArrayType(DoubleType, containsNull = false),
    "graft.plans.QuantizeStats.stats", nullResult = true) {
  private def isFloat: Boolean = Kernel.isFloat(child.dataType)
  override protected def accepts(t: DataType): Boolean = Kernel.floats(t)
  override protected def nullSafeEval(a: Any): Any =
    QuantizeStats.stats(a.asInstanceOf[ArrayData], isFloat)
  override protected def extraArgs(ctx: CodegenContext): Seq[String] =
    Seq(s"$isFloat")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object QuantizeStats {
  /** Spark `round(d, 0)` semantics: BigDecimal.valueOf + HALF_UP. The
    * BigDecimal path costs ~400 ns (Double.toString + parse), so the
    * common case takes a primitive floor: the two can disagree ONLY when
    * the shortest-decimal and binary values of `d` straddle a .5
    * boundary — both within one ulp of it — so any `d` further than 1e-6
    * from a half-integer floors safely (domain here is [0, 255]; ulp ≈
    * 5.7e-14). Near the boundary, fall back to the exact BigDecimal. */
  private def sparkRound(d: Double): Double = {
    val fl = math.floor(d)
    val frac = d - fl
    if (math.abs(frac - 0.5) > 1e-6) math.floor(d + 0.5)
    else JBigDecimal.valueOf(d).setScale(0, RoundingMode.HALF_UP).doubleValue()
  }

  /** Element `i` of a float or double array, as a double. */
  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Called from both interpreted eval and generated code. Null for
    * empty/all-null arrays. */
  def stats(a: ArrayData, isFloat: Boolean): GenericArrayData = {
    val n = a.numElements()
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var seen = false
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val x = elem(a, i, isFloat)
        if (x < mn) mn = x
        if (x > mx) mx = x
        seen = true
      }
      i += 1
    }
    if (!seen) return null
    val sc = (mx - mn) / 255
    var qSum = 0.0
    var maxErr = 0.0
    if (sc > 0) {
      i = 0
      while (i < n) {
        if (!a.isNullAt(i)) {
          val x = elem(a, i, isFloat)
          val q = sparkRound((x - mn) / sc)
          qSum += q
          val err = math.abs(mn + q * sc - x)
          if (err > maxErr) maxErr = err
        }
        i += 1
      }
    }
    new GenericArrayData(Array(sc, qSum, maxErr))
  }
}
