package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, StringType}

/** The Catalyst protocol every native kernel shares. A kernel is a static
  * JVM method (`entry`) that interpreted `eval` and generated code both
  * call, so the two paths cannot drift. The base owns the SQL name, the
  * type check (`"<name> requires <wants>, got <types>"`), nullability (a
  * null argument gives a null result; `nullResult` kernels may also
  * return null for non-null arguments) and the generated call
  * `entry(children..., extraArgs...)`. A kernel class states only its
  * name, type contract and output type, its `nullSafeEval` and `copy`.
  *
  * Serializable: tasks ship kernels by Java serialization, which needs
  * the first non-serializable superclass (here Spark's
  * `UnaryExpression`/`BinaryExpression`) to have a no-arg constructor —
  * the bases' constructor parameters rule them out. */
sealed trait Kernel extends Expression with Serializable {
  protected val name: String
  protected val wants: String
  protected val entry: String
  protected val nullResult: Boolean
  protected def typesOk: Boolean

  /** Trailing `entry` arguments after the children's values: literal
    * flags, or `ctx.addReferenceObj` names. Called before the children's
    * code is generated, so references are registered first. */
  protected def extraArgs(ctx: CodegenContext): Seq[String] = Nil

  override def prettyName: String = name
  override def nullable: Boolean = nullResult || children.exists(_.nullable)

  override def checkInputDataTypes(): TypeCheckResult =
    if (typesOk) TypeCheckResult.TypeCheckSuccess
    else {
      val got = children.map(_.dataType) match {
        case Seq(t) => t.toString
        case ts => ts.mkString("(", ", ", ")")
      }
      TypeCheckResult.TypeCheckFailure(s"$name requires $wants, got $got")
    }

  /** Java call of `entry` on `args`. */
  protected def call(args: Seq[String]): String =
    s"$entry(${args.mkString(", ")})"

  /** Java statements setting `ev` from `entry(args)`. */
  protected def assign(ev: ExprCode, args: Seq[String]): String =
    if (nullResult) s"""
      ${ev.value} = ${call(args)};
      ${ev.isNull} = (${ev.value} == null);
    """
    else s"${ev.value} = ${call(args)};"
}

abstract class UnaryKernel(protected val name: String,
    protected val wants: String, val dataType: DataType,
    protected val entry: String, protected val nullResult: Boolean = false)
    extends UnaryExpression with Kernel {
  protected def accepts(t: DataType): Boolean
  protected def typesOk: Boolean = accepts(child.dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val extra = extraArgs(ctx)
    nullSafeCodeGen(ctx, ev, c => assign(ev, c +: extra))
  }
}

abstract class BinaryKernel(protected val name: String,
    protected val wants: String, val dataType: DataType,
    protected val entry: String, protected val nullResult: Boolean = false)
    extends BinaryExpression with Kernel {
  protected def accepts(l: DataType, r: DataType): Boolean
  protected def typesOk: Boolean = accepts(left.dataType, right.dataType)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val extra = extraArgs(ctx)
    nullSafeCodeGen(ctx, ev, (a, b) => assign(ev, Seq(a, b) ++ extra))
  }
}

object Kernel {
  /** array<string>. */
  def strings(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  /** array<float> or array<double>. */
  def floats(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  /** Whether an array<float|double> holds floats. */
  def isFloat(t: DataType): Boolean =
    t.asInstanceOf[ArrayType].elementType == FloatType
}
