package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import Kernel.{floats, isFloat}

/** Native codegen'd dot product over two numeric arrays (SURVEY §7.3 path
  * (b)) — the hot kernel of every embedding operator (cosine kNN, ANN
  * probing, near-dup thresholds, centroid assignment). The composed form
  * `aggregate(zip_with(a, b, *), 0, +)` allocates a zipped intermediate
  * array and walks two interpreted higher-order lambdas per row (HOFs have
  * no codegen in Spark); this expression is ONE fused primitive loop.
  *
  * Semantics match the DuckDB oracle twin
  * `list_sum(list_transform(range(...), i -> a[i]*b[i]))`: elements are
  * cast to double, products accumulate in index order (no FMA, so the
  * float rounding matches the composed form bit-for-bit), null elements
  * are skipped (DuckDB `list_sum` ignores NULLs), and the walk stops at
  * the shorter array.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryKernel("dot_product", "array<float|double> arguments",
      DoubleType, "graft.plans.DotProduct.dot") {
  override protected def accepts(l: DataType, r: DataType): Boolean =
    floats(l) && floats(r)
  override protected def nullSafeEval(a: Any, b: Any): Any =
    DotProduct.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      isFloat(left.dataType), isFloat(right.dataType))
  override protected def extraArgs(ctx: CodegenContext): Seq[String] =
    Seq(s"${isFloat(left.dataType)}", s"${isFloat(right.dataType)}")
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(left = newLeft, right = newRight)
}

object DotProduct {
  /** Called from both interpreted eval and generated code. */
  def dot(a: ArrayData, b: ArrayData, aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i)) {
        val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
        acc += x * y
      }
      i += 1
    }
    acc
  }
}
