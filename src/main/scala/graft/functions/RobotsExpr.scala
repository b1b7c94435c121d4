package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** robots.txt compliance for crawl-derived corpora (RFC 9309, scoped to
  * the wildcard `*` agent group — the group a bulk data pipeline honors):
  *
  *  - `robots_rules(txt)` parses a robots.txt body into
  *    `array<struct<allow boolean, prefix string>>` — the merged
  *    allow/disallow rules of every group whose `User-agent` lines
  *    include `*`, in file order. Comments (`#` to end of line), blank
  *    lines, unknown directives (`Crawl-delay`, `Sitemap`, …) and
  *    groups for other agents are ignored; rules before the first
  *    `User-agent` line are ignored (RFC: rules outside a group have no
  *    meaning); an empty `Disallow:` value is a no-op (it means
  *    "allow everything"). Keys match case-insensitively.
  *  - `robots_allowed(rules, path)` applies the standard evaluation
  *    rule: the LONGEST matching pattern wins, ties go to `allow`, no
  *    match means allowed. Patterns are literal path prefixes with `*`
  *    wildcards and an optional trailing `$` end anchor (the de-facto
  *    extension every major crawler honors).
  *
  * Both are single-pass static kernels inside whole-stage codegen —
  * map-side, shuffle-free, no UDF (the [[HtmlLinksExpr]] posture). The
  * per-host rules frame is domain-cardinality, so the filter composes
  * as one broadcast join + this predicate
  * ([[graft.operators.Domains.applyRobots]]).
  */
object RobotsKernel {

  private val elementType = StructType(Seq(
    StructField("allow", BooleanType, nullable = false),
    StructField("prefix", StringType, nullable = false)))
  val rulesType: ArrayType = ArrayType(elementType, containsNull = false)

  def rules(txt: UTF8String): ArrayData = {
    val rs = parseRules(txt.toString)
    val rows = new Array[Any](rs.length)
    var i = 0
    while (i < rs.length) {
      rows(i) = InternalRow(rs(i)._1: java.lang.Boolean,
        UTF8String.fromString(rs(i)._2))
      i += 1
    }
    new GenericArrayData(rows)
  }

  def parseRules(txt: String): Array[(Boolean, String)] = {
    val out = Array.newBuilder[(Boolean, String)]
    // a run of consecutive user-agent lines names the agents of the
    // group whose body is the allow/disallow lines that follow; the
    // next user-agent line AFTER a body line starts a new group
    var collectingAgents = false
    var groupApplies = false
    var inGroup = false
    var li = 0
    val lines = txt.split("\n", -1)
    while (li < lines.length) {
      var line = lines(li)
      val hash = line.indexOf('#')
      if (hash >= 0) line = line.substring(0, hash)
      line = line.trim
      if (line.nonEmpty) {
        val colon = line.indexOf(':')
        if (colon > 0) {
          val key = line.substring(0, colon).trim.toLowerCase
          val value = line.substring(colon + 1).trim
          if (key == "user-agent") {
            if (!collectingAgents) {
              collectingAgents = true; groupApplies = false; inGroup = true
            }
            if (value == "*") groupApplies = true
          } else if (key == "allow" || key == "disallow") {
            collectingAgents = false
            if (inGroup && groupApplies && value.nonEmpty)
              out += ((key == "allow", value))
          }
          // anything else (crawl-delay, sitemap, unknown): ignored
          // entirely — it neither joins nor delimits a group
        }
      }
      li += 1
    }
    out.result()
  }

  def allowed(rules: ArrayData, path: UTF8String): Boolean = {
    val p = path.toString
    var bestLen = -1
    var bestAllow = true
    var i = 0
    val n = rules.numElements()
    while (i < n) {
      val row = rules.getStruct(i, 2)
      val allow = row.getBoolean(0)
      val pat = row.getUTF8String(1).toString
      if (matches(p, pat)) {
        if (pat.length > bestLen) { bestLen = pat.length; bestAllow = allow }
        else if (pat.length == bestLen && allow) bestAllow = true // tie → allow
      }
      i += 1
    }
    bestLen == -1 || bestAllow
  }

  /** robots pattern match: literal segments joined by `*` wildcards
    * (each consuming >= 0 chars), the first segment anchored at the
    * path start, an optional trailing `$` anchoring the end. Middle
    * segments match greedily-earliest (complete, since earlier matches
    * leave maximal room); an anchored final segment must sit flush at
    * the end without overlapping consumed input.
    */
  def matches(path: String, pattern: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.substring(0, pattern.length - 1) else pattern
    val parts = pat.split("\\*", -1)
    if (!path.startsWith(parts(0))) return false
    var pos = parts(0).length
    val lastIdx = parts.length - 1
    val middleEnd = if (anchored) lastIdx else parts.length
    var i = 1
    while (i < middleEnd) {
      val part = parts(i)
      if (part.nonEmpty) {
        val idx = path.indexOf(part, pos)
        if (idx < 0) return false
        pos = idx + part.length
      }
      i += 1
    }
    if (!anchored) true
    else if (lastIdx == 0) path.length == pos // pure literal, must equal
    else {
      val part = parts(lastIdx) // may be empty: "*$" consumes the rest
      path.length - part.length >= pos && path.endsWith(part)
    }
  }
}

case class RobotsRulesExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("robots_rules(txt STRING) expected")
  override def dataType: DataType = RobotsKernel.rulesType
  override def nullSafeEval(input: Any): Any =
    RobotsKernel.rules(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.RobotsKernel.rules($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "robots_rules"
}

case class RobotsAllowedExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StructType(fields), _), StringType)
          if fields.length == 2 && fields(0).dataType == BooleanType &&
            fields(1).dataType == StringType =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        "robots_allowed(rules ARRAY<STRUCT<allow BOOLEAN, prefix STRING>>, path STRING) expected")
    }
  override def dataType: DataType = BooleanType
  override def nullSafeEval(rules: Any, path: Any): Any =
    RobotsKernel.allowed(rules.asInstanceOf[ArrayData],
      path.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (r, p) => s"graft.functions.RobotsKernel.allowed($r, $p)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "robots_allowed"
}

object RobotsExpr {
  def robotsRules(txt: Column): Column = call_function("robots_rules", txt)
  def robotsAllowed(rules: Column, path: Column): Column =
    call_function("robots_allowed", rules, path)
}
