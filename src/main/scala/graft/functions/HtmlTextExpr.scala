package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_text(html)` — main-content extraction from an HTML document:
  * the stage between a parsed crawl (WARC → HTTP body) and every text
  * operator in this library, which all assume CLEAN text that no crawl
  * provides (the C4/CCNet/RefinedWeb pipelines all start here).
  *
  * One compiled pass per document (the [[TextMetricsExpr]] idiom: a
  * static kernel inside whole-stage codegen — map-side, shuffle-free,
  * no UDF):
  *
  *  - `<script>`/`<style>` elements drop WITH their content; comments
  *    (`<!-- -->`) and declarations (`<!DOCTYPE>`, `<![CDATA[`) drop.
  *  - Block-level tags (`p div h1..h6 li br tr table …`) become line
  *    breaks; inline tags (`b a span …`) vanish without breaking words.
  *    Tag scanning respects quoted attribute values — `<a title="a>b">`
  *    ends at the real `>`, not the one inside the quote.
  *  - Character entities decode: the XML/HTML named set that appears in
  *    escaped text (`&amp; &lt; &gt; &quot; &apos; &nbsp;`) plus numeric
  *    `&#123;` / `&#x1F600;` forms (full code-point range, so
  *    supplementary characters round-trip). Anything unrecognized stays
  *    literal — a bare `&` in prose is text, not markup.
  *  - A stray `<` not opening markup (`a < b`) is text, not a tag.
  *  - Whitespace normalizes: runs collapse to one space, block
  *    boundaries to one newline (newline wins over space), leading and
  *    trailing whitespace trims — so extraction output is stable under
  *    HTML re-formatting, and an oracle can state the expected text in
  *    closed form.
  *
  * Unclosed constructs (comment, quote, script) consume to end of input
  * rather than throwing — malformed HTML is the normal case on a crawl,
  * and a per-doc extraction must never abort a task (the WARC
  * quarantine posture, applied to content).
  */
object HtmlTextKernel {

  /** Tags that end a text block. Void or not doesn't matter — open and
    * close forms both emit a boundary, and boundaries collapse.
    */
  private val blockTags = Set(
    "p", "div", "br", "hr", "h1", "h2", "h3", "h4", "h5", "h6",
    "li", "ul", "ol", "dl", "dt", "dd", "tr", "td", "th",
    "table", "thead", "tbody", "tfoot", "caption",
    "section", "article", "header", "footer", "nav", "aside", "main",
    "blockquote", "pre", "form", "fieldset", "figure", "figcaption",
    "address", "title", "option", "textarea", "noscript", "head", "body", "html")

  private val named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">",
    "quot" -> "\"", "apos" -> "'", "nbsp" -> " ")

  def extract(html: UTF8String): UTF8String =
    UTF8String.fromString(extractText(html.toString))

  def extractText(html: String): String = {
    val n = html.length
    // raw: decoded text where every whitespace char is ' ' and every
    // block boundary is '\n'; normalized in one pass at the end
    val raw = new java.lang.StringBuilder(n / 2)
    var i = 0
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n &&
          (html.charAt(i + 1) == '/' || html.charAt(i + 1) == '!' ||
            Character.isLetter(html.charAt(i + 1)))) {
        if (html.startsWith("<!--", i)) {
          val e = html.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (html.charAt(i + 1) == '!') {
          // <!DOCTYPE ...>, <![CDATA[ ...]]> — skip the declaration
          val e = html.indexOf('>', i + 2)
          i = if (e < 0) n else e + 1
        } else {
          val closing = html.charAt(i + 1) == '/'
          var j = i + (if (closing) 2 else 1)
          val nameStart = j
          while (j < n && (Character.isLetterOrDigit(html.charAt(j)) ||
              html.charAt(j) == '-')) j += 1
          val name = html.substring(nameStart, j).toLowerCase(java.util.Locale.ROOT)
          // scan to the tag's real '>' — quotes hide '>' in attributes
          var k = j
          var quote: Char = 0
          while (k < n && (quote != 0 || html.charAt(k) != '>')) {
            val ch = html.charAt(k)
            if (quote == 0 && (ch == '"' || ch == '\'')) quote = ch
            else if (quote != 0 && ch == quote) quote = 0
            k += 1
          }
          val selfClosed = k < n && k > j && html.charAt(k - 1) == '/'
          val tagEnd = if (k < n) k + 1 else n
          if (!closing && !selfClosed && (name == "script" || name == "style")) {
            val close = indexOfIgnoreCase(html, "</" + name, tagEnd)
            if (close < 0) i = n
            else {
              val e = html.indexOf('>', close)
              i = if (e < 0) n else e + 1
            }
          } else {
            if (blockTags.contains(name)) raw.append('\n')
            i = tagEnd
          }
        }
      } else if (c == '&') {
        // bounded window scan: an unbounded indexOf(';') is O(n) per
        // '&' — quadratic on ampersand-heavy text with no semicolons
        // (crawl pages do this); no entity is longer than 12 chars
        var semi = -1
        var s = i + 1
        val lim = math.min(n, i + 13)
        while (semi < 0 && s < lim) {
          if (html.charAt(s) == ';') semi = s
          s += 1
        }
        val decoded =
          if (semi > i) decodeEntity(html.substring(i + 1, semi))
          else null
        if (decoded != null) {
          var d = 0
          while (d < decoded.length) {
            val dc = decoded.charAt(d)
            // decoded whitespace (&nbsp;, &#10;) is TEXT whitespace — a
            // space, never a fake block boundary
            raw.append(if (Character.isWhitespace(dc)) ' ' else dc)
            d += 1
          }
          i = semi + 1
        } else {
          raw.append('&')
          i += 1
        }
      } else {
        raw.append(if (Character.isWhitespace(c)) ' ' else c)
        i += 1
      }
    }
    normalize(raw)
  }

  private[functions] def decodeEntity(ent: String): String =
    if (ent.isEmpty) null
    else if (ent.charAt(0) == '#') {
      val cp =
        try {
          if (ent.length > 1 && (ent.charAt(1) == 'x' || ent.charAt(1) == 'X'))
            Integer.parseInt(ent.substring(2), 16)
          else Integer.parseInt(ent.substring(1))
        } catch { case _: NumberFormatException => -1 }
      // surrogate code points are "valid" to isValidCodePoint but
      // decode to a LONE surrogate — invalid UTF-16 that corrupts any
      // downstream byte encode; treat like any unrecognized entity
      if (cp > 0 && Character.isValidCodePoint(cp) &&
          !(cp >= Character.MIN_SURROGATE && cp <= Character.MAX_SURROGATE))
        new String(Character.toChars(cp))
      else null
    } else named.getOrElse(ent, null)

  /** Collapse space runs, let newlines win over adjacent spaces,
    * collapse newline runs, trim both ends — the closed-form contract
    * the Scaladoc states and oracles mirror.
    */
  private def normalize(raw: java.lang.StringBuilder): String = {
    val out = new java.lang.StringBuilder(raw.length)
    var pendingNewline = false
    var pendingSpace = false
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\n') { pendingNewline = true; pendingSpace = false }
      else if (c == ' ') { if (!pendingNewline) pendingSpace = true }
      else {
        if (out.length > 0) {
          if (pendingNewline) out.append('\n')
          else if (pendingSpace) out.append(' ')
        }
        pendingNewline = false
        pendingSpace = false
        out.append(c)
      }
      i += 1
    }
    out.toString
  }

  private def indexOfIgnoreCase(hay: String, needle: String, from: Int): Int = {
    var i = math.max(from, 0)
    val last = hay.length - needle.length
    while (i <= last) {
      if (hay.regionMatches(true, i, needle, 0, needle.length)) return i
      i += 1
    }
    -1
  }
}

case class HtmlTextExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("html_text(html STRING) expected")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    HtmlTextKernel.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlTextKernel.extract($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "html_text"
}

object HtmlTextExpr {
  def htmlText(html: Column): Column = call_function("html_text", html)
}
