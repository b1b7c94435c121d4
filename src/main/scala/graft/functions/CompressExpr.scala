package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `deflate_ratio(text)` — compressed-size / raw-size of the UTF-8 bytes
  * under raw DEFLATE (zlib level 6, no header), the classic
  * one-number text-quality signal: boilerplate and template spam
  * compress to almost nothing (ratio → 0), natural language sits in a
  * mid band, and base64/binary junk doesn't compress at all (ratio → 1).
  * Quality pipelines drop BOTH extremes.
  *
  * Empty/whitespace-only inputs return 0.0 (nothing to judge; callers
  * length-filter first). One streaming pass with a reused 8 KiB output
  * buffer, no allocation proportional to the compressed size; runs
  * map-side inside whole-stage codegen.
  *
  * The exact byte count is an implementation detail of the JDK's
  * deflater, so thresholds must be calibrated bands, never exact
  * values — the oracle convention is verdicts over margin-separated
  * constructions, not ratios.
  */
object CompressKernel {

  def ratio(text: UTF8String): Double = {
    val bytes = text.getBytes
    if (bytes.length == 0) return 0.0
    val d = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var out = 0L
      while (!d.finished()) out += d.deflate(buf)
      out.toDouble / bytes.length
    } finally d.end()
  }
}

case class DeflateRatioExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("deflate_ratio(text STRING) expected")
  override def dataType: DataType = DoubleType
  override def nullSafeEval(input: Any): Any =
    CompressKernel.ratio(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CompressKernel.ratio($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "deflate_ratio"
}

object CompressExpr {
  def deflateRatio(text: Column): Column = call_function("deflate_ratio", text)
}
