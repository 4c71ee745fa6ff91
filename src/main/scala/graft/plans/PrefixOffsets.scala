package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expression (SURVEY §7.3 path (b)): exclusive prefix sums
  * of an integral list — `[c0, c1, c2]` -> `[0, c0, c0+c1, c0+c1+c2]` — the
  * offsets array that regrouping ops (reference `unflatten`,
  * structure.py:898-922) need. A single O(n) pass per row; the pure-HOF
  * alternative (`aggregate` + `concat`) reallocates the accumulator array
  * every step, i.e. O(n²) allocation, which is wrong for a library
  * primitive applied to long lists. Null elements count as 0.
  */
case class PrefixOffsets(child: Expression) extends UnaryKernel(
    "prefix_offsets", "array<int> or array<bigint>",
    ArrayType(LongType, containsNull = false),
    "graft.plans.PrefixOffsets.compute") {
  private lazy val elemIsLong: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override protected def accepts(t: DataType): Boolean = t match {
    case ArrayType(IntegerType | LongType, _) => true
    case _ => false
  }
  override protected def nullSafeEval(input: Any): Any =
    PrefixOffsets.compute(input.asInstanceOf[ArrayData], elemIsLong)
  override protected def extraArgs(ctx: CodegenContext): Seq[String] =
    Seq(s"$elemIsLong")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object PrefixOffsets {
  /** Called from both interpreted eval and generated code. */
  def compute(counts: ArrayData, elemIsLong: Boolean): ArrayData = {
    val n = counts.numElements()
    val out = new Array[Long](n + 1)
    var acc = 0L
    var i = 0
    while (i < n) {
      if (!counts.isNullAt(i)) {
        acc += (if (elemIsLong) counts.getLong(i) else counts.getInt(i).toLong)
      }
      out(i + 1) = acc
      i += 1
    }
    new GenericArrayData(out)
  }
}
