package graft.functions

import java.nio.charset.{CodingErrorAction, StandardCharsets}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `fix_mojibake(text)` — undo the classic encoding damage every web
  * corpus carries: UTF-8 bytes that were decoded as Latin-1 or
  * Windows-1252 somewhere upstream ("café" shipped as "cafÃ©"), the
  * repair ftfy performs in production pipelines.
  *
  * Inverse mapping is "sloppy windows-1252" (the ftfy convention): a
  * char maps back to its byte if it is <= U+00FF (Latin-1 identity —
  * this also covers the five CP1252 holes, which Java decodes to the
  * C1 controls) or one of the 27 CP1252 specials (€ → 0x80, ™ → 0x99,
  * …). The repair fires ONLY when the whole string maps back AND the
  * byte string is strictly valid UTF-8 with at least one multibyte
  * sequence — plain ASCII and genuinely accented text pass through
  * untouched, and a string containing any char with no byte (CJK,
  * emoji) is evidence of NO damage, not repairable damage. Up to three
  * rounds, so double-mojibake (damaged twice) also unwinds.
  *
  * Map-side codegen'd kernel; no shuffle at any corpus size.
  */
object TextRepairKernel {

  // CP1252 specials (bytes 0x80-0x9F) that decode above U+00FF.
  // Value type must be java.lang.Integer: with a Scala Int value type,
  // get() on a missing key unboxes null to 0 and the null-check below
  // can never fire, silently mapping CJK/emoji chars to byte 0x00.
  private val cp1252Inverse: java.util.HashMap[Char, java.lang.Integer] = {
    val m = new java.util.HashMap[Char, java.lang.Integer]()
    val pairs = Seq(
      '€' -> 0x80, '‚' -> 0x82, 'ƒ' -> 0x83,
      '„' -> 0x84, '…' -> 0x85, '†' -> 0x86,
      '‡' -> 0x87, 'ˆ' -> 0x88, '‰' -> 0x89,
      'Š' -> 0x8A, '‹' -> 0x8B, 'Œ' -> 0x8C,
      'Ž' -> 0x8E, '‘' -> 0x91, '’' -> 0x92,
      '“' -> 0x93, '”' -> 0x94, '•' -> 0x95,
      '–' -> 0x96, '—' -> 0x97, '˜' -> 0x98,
      '™' -> 0x99, 'š' -> 0x9A, '›' -> 0x9B,
      'œ' -> 0x9C, 'ž' -> 0x9E, 'Ÿ' -> 0x9F)
    pairs.foreach { case (c, b) => m.put(c, java.lang.Integer.valueOf(b)) }
    m
  }

  def fix(text: UTF8String): UTF8String = {
    var s = text.toString
    var rounds = 0
    while (rounds < 3) {
      val repaired = repairOnce(s)
      if (repaired == null) return UTF8String.fromString(s)
      s = repaired
      rounds += 1
    }
    UTF8String.fromString(s)
  }

  /** One inverse round; null when the string shows no repairable damage. */
  def repairOnce(s: String): String = {
    val n = s.length
    val bytes = new Array[Byte](n)
    var hasHigh = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      val b =
        if (c < 0x100) c.toInt
        else {
          val m = cp1252Inverse.get(c)
          if (m == null) return null else m.intValue()
        }
      if (b >= 0x80) hasHigh = true
      bytes(i) = b.toByte
      i += 1
    }
    if (!hasHigh) return null
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPORT)
      .onUnmappableCharacter(CodingErrorAction.REPORT)
    try {
      val out = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
      if (out == s) null else out
    } catch {
      case _: java.nio.charset.CharacterCodingException => null
    }
  }
}

case class FixMojibakeExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("fix_mojibake(text STRING) expected")
  override def dataType: DataType = StringType
  override def nullSafeEval(input: Any): Any =
    TextRepairKernel.fix(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextRepairKernel.fix($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "fix_mojibake"
}

object TextRepairExpr {
  def fixMojibake(text: Column): Column = call_function("fix_mojibake", text)
}
