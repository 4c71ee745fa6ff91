package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.SparkSessionExtensions

/** Session extension registering the engine's native functions —
  * `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionDescriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => SizeFilterToExists)
    // operator-optimization batch — runs before SchemaPruning's early
    // scan-pushdown batch, so the extracted form is what pruning sees
    ext.injectOptimizerRule(_ => TransformFieldExtraction)
  }
}

object GraftExtensions {
  private[graft] val functionDescriptors = Seq(
    (new FunctionIdentifier("md5_prefix64"),
      new ExpressionInfo(classOf[Md5Prefix64].getName, "md5_prefix64"),
      (children: Seq[Expression]) => Md5Prefix64(children.head): Expression),
    (new FunctionIdentifier("md5_prefix60"),
      new ExpressionInfo(classOf[Md5Prefix60].getName, "md5_prefix60"),
      (children: Seq[Expression]) => Md5Prefix60(children.head): Expression),
    (new FunctionIdentifier("prefix_offsets"),
      new ExpressionInfo(classOf[PrefixOffsets].getName, "prefix_offsets"),
      (children: Seq[Expression]) => PrefixOffsets(children.head): Expression),
    (new FunctionIdentifier("deflate_ratio"),
      new ExpressionInfo(classOf[DeflateRatio].getName, "deflate_ratio"),
      (children: Seq[Expression]) => DeflateRatio(children.head): Expression),
    (new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[Expression]) =>
        DotProduct(children(0), children(1)): Expression),
    (new FunctionIdentifier("quantize_stats"),
      new ExpressionInfo(classOf[QuantizeStats].getName, "quantize_stats"),
      (children: Seq[Expression]) => QuantizeStats(children.head): Expression),
    (new FunctionIdentifier("min_md5_hex"),
      new ExpressionInfo(classOf[MinMd5Hex].getName, "min_md5_hex"),
      (children: Seq[Expression]) => MinMd5Hex(children.head): Expression),
    (new FunctionIdentifier("min_shingle_md5_hex"),
      new ExpressionInfo(classOf[MinShingleMd5Hex].getName,
        "min_shingle_md5_hex"),
      (children: Seq[Expression]) =>
        MinShingleMd5Hex(children(0), children(1)): Expression),
    (new FunctionIdentifier("cdc_cuts"),
      new ExpressionInfo(classOf[CdcCuts].getName, "cdc_cuts"),
      (children: Seq[Expression]) => CdcCuts(children.head): Expression),
    (new FunctionIdentifier("bigram_sq_sum"),
      new ExpressionInfo(classOf[BigramSqSum].getName, "bigram_sq_sum"),
      (children: Seq[Expression]) => BigramSqSum(children.head): Expression))

  /** Imperative fallback: if `getOrCreate` returned a session built without
    * `spark.sql.extensions=graft.plans.GraftExtensions` (e.g. a harness
    * created it first), register the functions directly. Idempotent. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    functionDescriptors.foreach { case (id, info, builder) =>
      if (!reg.functionExists(id)) reg.registerFunction(id, info, builder)
    }
  }
}
