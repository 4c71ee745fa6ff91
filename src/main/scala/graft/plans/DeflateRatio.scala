package graft.plans

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import java.util.zip.Deflater

/** Native codegen'd expression: deflate(level 6) size over raw size of a
  * UTF-8 string — the compression-ratio quality signal LLM data pipelines
  * use to flag repetitive/templated text (highly repetitive documents
  * compress far below ~0.4; natural prose sits near 0.6-1.0 at short
  * lengths). A per-row scalar kernel like Md5Prefix64: runs once per
  * document, so the Deflater is thread-local and reused. Empty input -> 1.0.
  */
case class DeflateRatio(child: Expression) extends UnaryKernel("deflate_ratio",
    "a string argument", DoubleType, "graft.plans.DeflateRatio.ratio") {
  override protected def accepts(t: DataType): Boolean = t == StringType
  override protected def nullSafeEval(input: Any): Any =
    DeflateRatio.ratio(input.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object DeflateRatio {
  private val deflaters = ThreadLocal.withInitial[Deflater](() =>
    new Deflater(6))
  private val bufs = ThreadLocal.withInitial[Array[Byte]](() =>
    new Array[Byte](64 * 1024))

  /** Called from both interpreted eval and generated code. */
  def ratio(s: UTF8String): Double = {
    val raw = s.getBytes
    if (raw.isEmpty) return 1.0
    val d = deflaters.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = bufs.get()
    var total = 0L
    while (!d.finished()) {
      total += d.deflate(buf)
    }
    total.toDouble / raw.length
  }
}
