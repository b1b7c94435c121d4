package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `html_links(html)` — outlink extraction from an HTML document:
  * `array<struct<href, anchor>>`, one element per `<a>` tag carrying an
  * `href` attribute, in document order. The link/anchor corpus is a
  * first-class web-pipeline artifact (link graphs for quality priors,
  * anchor text as weak supervision — the idiom behind PageRank-style
  * domain scoring in crawl curation), and the extraction stage sits
  * beside [[HtmlTextExpr]] right after the WARC → HTTP split.
  *
  * Same execution posture as `html_text`: one compiled pass per document
  * via a static kernel inside whole-stage codegen — map-side,
  * shuffle-free, no UDF. Contract (oracles state outputs in closed
  * form):
  *
  *  - Tag scan mirrors [[HtmlTextKernel]]: `<script>`/`<style>` content,
  *    comments, and declarations are skipped — a link inside a script
  *    string is NOT a link; quoted attribute values hide `>`.
  *  - `href` matches case-insensitively (`HREF` works); the value may be
  *    double-quoted, single-quoted, or unquoted (terminated by
  *    whitespace or `>`); entities inside it decode (`&amp;` → `&`, the
  *    common case in query strings). An `<a>` with no `href` yields
  *    nothing.
  *  - `anchor` is the inner content up to the next `</a>`
  *    (case-insensitive) run through the `html_text` extraction —
  *    inline tags vanish, entities decode, whitespace collapses — with
  *    block boundaries flattened to spaces (anchors are one line by
  *    contract). An unclosed `<a>` consumes to end of input (the
  *    quarantine posture: malformed HTML is the crawl's normal case and
  *    must never abort a task).
  */
object HtmlLinksKernel {

  private val elementType = StructType(Seq(
    StructField("href", StringType, nullable = false),
    StructField("anchor", StringType, nullable = false)))
  val dataType: ArrayType = ArrayType(elementType, containsNull = false)

  def extract(html: UTF8String): ArrayData = {
    val links = extractLinks(html.toString)
    val rows = new Array[Any](links.length)
    var i = 0
    while (i < links.length) {
      rows(i) = InternalRow(
        UTF8String.fromString(links(i)._1), UTF8String.fromString(links(i)._2))
      i += 1
    }
    new GenericArrayData(rows)
  }

  def extractLinks(html: String): Array[(String, String)] = {
    val n = html.length
    val out = Array.newBuilder[(String, String)]
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
          } else if (!closing && name == "a") {
            val href = hrefValue(html, j, math.min(k, n))
            if (href == null) i = tagEnd
            else if (selfClosed) {
              // `<a href="x"/>` has no inner content — emit an empty
              // anchor and continue AFTER the tag; scanning for a
              // nonexistent </a> would swallow the rest of the document
              out += ((href, ""))
              i = tagEnd
            } else {
              val close = indexOfIgnoreCase(html, "</a", tagEnd)
              val innerEnd = if (close < 0) n else close
              val anchor = HtmlTextKernel
                .extractText(html.substring(tagEnd, innerEnd))
                .replace('\n', ' ')
              out += ((href, anchor))
              i =
                if (close < 0) n
                else {
                  val e = html.indexOf('>', close)
                  if (e < 0) n else e + 1
                }
            }
          } else i = tagEnd
        }
      } else i += 1
    }
    out.result()
  }

  /** The entity-decoded value of the first (case-insensitive) `href`
    * attribute in the open tag's attribute region [from, until), or null.
    */
  private def hrefValue(html: String, from: Int, until: Int): String = {
    var i = from
    while (i < until) {
      // skip whitespace and stray '/'
      while (i < until && (Character.isWhitespace(html.charAt(i)) ||
          html.charAt(i) == '/')) i += 1
      if (i >= until) return null
      val nameStart = i
      while (i < until && html.charAt(i) != '=' && html.charAt(i) != '>' &&
          !Character.isWhitespace(html.charAt(i))) i += 1
      val isHref = i - nameStart == 4 &&
        html.regionMatches(true, nameStart, "href", 0, 4)
      // optional '=' value
      var vs = i
      while (vs < until && Character.isWhitespace(html.charAt(vs))) vs += 1
      if (vs < until && html.charAt(vs) == '=') {
        vs += 1
        while (vs < until && Character.isWhitespace(html.charAt(vs))) vs += 1
        var ve = vs
        if (vs < until && (html.charAt(vs) == '"' || html.charAt(vs) == '\'')) {
          val q = html.charAt(vs)
          vs += 1
          ve = vs
          while (ve < until && html.charAt(ve) != q) ve += 1
          if (isHref) return decodeEntities(html.substring(vs, ve))
          i = math.min(ve + 1, until)
        } else {
          while (ve < until && !Character.isWhitespace(html.charAt(ve))) ve += 1
          // an unquoted value running flush into the tag's '>' carries a
          // self-close slash if it ends with '/': `<a href=x/>` means
          // href "x", not "x/" (a real trailing-slash URL is either
          // quoted or followed by whitespace)
          val end =
            if (ve == until && ve > vs && html.charAt(ve - 1) == '/') ve - 1
            else ve
          if (isHref) return decodeEntities(html.substring(vs, end))
          i = ve
        }
      } else if (isHref) return "" // bare `href` with no value
    }
    null
  }

  /** Entity decode for attribute values — same bounded-window, same
    * entity set as text extraction, but no whitespace/block semantics
    * (an `&#10;` in a URL is the decoded char, verbatim).
    */
  private def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        var semi = -1
        var p = i + 1
        val lim = math.min(n, i + 13)
        while (semi < 0 && p < lim) {
          if (s.charAt(p) == ';') semi = p
          p += 1
        }
        val decoded =
          if (semi > i) HtmlTextKernel.decodeEntity(s.substring(i + 1, semi))
          else null
        if (decoded != null) { out.append(decoded); i = semi + 1 }
        else { out.append('&'); i += 1 }
      } else { out.append(c); i += 1 }
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

case class HtmlLinksExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("html_links(html STRING) expected")

  override def dataType: DataType = HtmlLinksKernel.dataType

  override def nullSafeEval(input: Any): Any =
    HtmlLinksKernel.extract(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HtmlLinksKernel.extract($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "html_links"
}

object HtmlLinksExpr {
  def htmlLinks(html: Column): Column = call_function("html_links", html)
}
