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
  private def fn(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  private[graft] val functionDescriptors = Seq(
    fn("md5_prefix64", classOf[Md5Prefix64])(c => Md5Prefix64(c.head)),
    fn("md5_prefix60", classOf[Md5Prefix60])(c => Md5Prefix60(c.head)),
    fn("prefix_offsets", classOf[PrefixOffsets])(c => PrefixOffsets(c.head)),
    fn("deflate_ratio", classOf[DeflateRatio])(c => DeflateRatio(c.head)),
    fn("dot_product", classOf[DotProduct])(c => DotProduct(c(0), c(1))),
    fn("quantize_stats", classOf[QuantizeStats])(c => QuantizeStats(c.head)),
    fn("min_md5_hex", classOf[MinMd5Hex])(c => MinMd5Hex(c.head)),
    fn("min_shingle_md5_hex", classOf[MinShingleMd5Hex])(
      c => MinShingleMd5Hex(c(0), c(1))),
    fn("cdc_cuts", classOf[CdcCuts])(c => CdcCuts(c.head)),
    fn("bigram_sq_sum", classOf[BigramSqSum])(c => BigramSqSum(c.head)))

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
