package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `text_metrics(text)` — every per-document annotation signal in ONE
  * compiled pass: (n_tokens, stopword_ratio, mean_token_len, lang_pred,
  * punct_ratio, quality).
  *
  * The composed-Column versions in [[TextFns]] stay as the oracle-checked
  * reference semantics (q32/q33/q35), but each of them re-tokenizes through
  * interpreted higher-order functions — fine for one metric, wasteful for
  * the corpus-annotation stage that needs all of them. This kernel
  * tokenizes once and folds all signals per row: shuffle-free, no HOF
  * interpretation, no wide codegen. Spec-enforced to agree with the
  * [[TextFns]] columns.
  *
  * Semantics mirrored exactly:
  *  - tokens = trimmed text split on `\s+` (0 tokens for blank text)
  *  - stopword_ratio / lang markers match on LOWERCASED tokens
  *  - mean_token_len counts codepoints (Spark `length`)
  *  - punct_ratio counts `\p{Punct}` (ASCII POSIX punctuation) over all chars
  *  - lang_pred = argmax marker hits, ties broken by struct comparison
  *    (score, then lang string) like `array_max(array(struct(...)))`
  *  - quality = 0.5*min(n/20,1) + 0.25*max(0,1-4*punct) + 0.25*min(5*stop,1)
  *    (UNROUNDED here; callers round like the Column path)
  */
object TextMetricsKernel {

  private val stops = Set("the", "a", "an", "and", "or", "of", "to", "in",
    "is", "it", "that", "this", "for", "on", "with", "as", "at", "by", "be")

  // Scan order matters for ties: later entries win equal scores only if
  // their lang string is greater — same as struct-lexicographic array_max.
  private val markers: Array[(String, Set[String])] = Array(
    "en" -> Set("the", "and", "of", "to", "is", "in", "that", "it", "with"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit"),
    "fr" -> Set("le", "la", "les", "et", "est", "une", "que", "pour", "dans"),
    "es" -> Set("el", "los", "las", "es", "una", "que", "por", "para", "como"),
    "zh" -> Set("的", "是", "了", "在", "我", "有", "和", "不", "人"))

  private def isPunct(ch: Char): Boolean =
    (ch >= '!' && ch <= '/') || (ch >= ':' && ch <= '@') ||
      (ch >= '[' && ch <= '`') || (ch >= '{' && ch <= '~')

  /** Returns (n_tokens, stopword_ratio, mean_token_len, lang_pred,
    * punct_ratio, quality) as an InternalRow struct.
    */
  def metrics(text: UTF8String): InternalRow = {
    val raw = text.toString
    // punct ratio over the RAW text (chars incl. whitespace), like TextFns
    var punct = 0
    var i = 0
    while (i < raw.length) { if (isPunct(raw.charAt(i))) punct += 1; i += 1 }
    val nChars = raw.codePointCount(0, raw.length)
    val punctRatio = if (nChars == 0) 0.0 else punct.toDouble / nChars.toDouble

    val words = raw.trim.split("\\s+").filter(_.nonEmpty)
    val n = words.length
    var nStop = 0
    var sumLen = 0L
    val scores = new Array[Int](markers.length)
    var w = 0
    while (w < n) {
      val word = words(w)
      sumLen += word.codePointCount(0, word.length)
      val lower = word.toLowerCase(java.util.Locale.ROOT)
      if (stops.contains(lower)) nStop += 1
      var m = 0
      while (m < markers.length) {
        if (markers(m)._2.contains(lower)) scores(m) += 1
        m += 1
      }
      w += 1
    }
    var bestScore = -1
    var bestLang = ""
    var m = 0
    while (m < markers.length) {
      val lang = markers(m)._1
      if (scores(m) > bestScore ||
          (scores(m) == bestScore && lang.compareTo(bestLang) > 0)) {
        bestScore = scores(m); bestLang = lang
      }
      m += 1
    }
    val stopRatio = if (n == 0) 0.0 else nStop.toDouble / n.toDouble
    val meanLen   = if (n == 0) 0.0 else sumLen.toDouble / n.toDouble
    val langPred  = if (n == 0 || bestScore == 0) "und" else bestLang
    val quality =
      math.min(n.toDouble / 20.0, 1.0) * 0.5 +
        math.max(0.0, 1.0 - punctRatio * 4.0) * 0.25 +
        math.min(stopRatio * 5.0, 1.0) * 0.25
    new GenericInternalRow(Array[Any](
      n.toLong, stopRatio, meanLen, UTF8String.fromString(langPred),
      punctRatio, quality))
  }
}

case class TextMetricsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("text_metrics(text STRING) expected")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("mean_token_len", DoubleType, nullable = false),
    StructField("lang_pred", StringType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("quality", DoubleType, nullable = false)))

  override def nullSafeEval(input: Any): Any =
    TextMetricsKernel.metrics(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.TextMetricsKernel.metrics($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "text_metrics"
}

object TextMetricsExpr {
  def textMetrics(text: Column): Column = call_function("text_metrics", text)
}
