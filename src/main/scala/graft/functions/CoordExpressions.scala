package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for sexagesimal coordinate parsing — the
  * codegen'd upgrade of [[Coordinates.hmsToDeg]]/[[Coordinates.dmsToDeg]]
  * (which compose split/element_at/cast and allocate an array per row).
  *
  * One single-pass char parser, no allocations, participates in whole-stage
  * codegen via a static method call. This is the reference's hottest scalar
  * (astropy SkyCoord UDF, `utils/coordinate.py:7-19`, called from 4 sites)
  * as a first-class engine function, also SQL-registered as
  * `hms_to_deg` / `dms_to_deg`.
  */
object CoordParse {

  /** "h:m:s[.frac]" hourangle -> degrees, rounded 5 dp; NaN-free: malformed
    * input returns Double.NaN (caller filters) rather than throwing on data.
    */
  def hms(s: UTF8String): Double = parse(s, 15.0)

  /** "[±]d:m:s[.frac]" -> degrees, rounded 5 dp (sign from the string, so
    * "-0:30:00" is negative).
    */
  def dms(s: UTF8String): Double = parse(s, 1.0)

  private def parse(u: UTF8String, scale: Double): Double = {
    if (u == null) return Double.NaN
    val s = u.toString.trim
    if (s.isEmpty) return Double.NaN
    var i = 0
    var sign = 1.0
    if (s.charAt(0) == '-') { sign = -1.0; i = 1 }
    else if (s.charAt(0) == '+') { i = 1 }
    var part = 0
    val parts = new Array[Double](3)
    var intAcc = 0.0
    var fracAcc = 0.0
    var fracDiv = 1.0
    var inFrac = false
    while (i < s.length) {
      val ch = s.charAt(i)
      if (ch == ':') {
        if (part >= 2) return Double.NaN
        parts(part) = intAcc + fracAcc
        part += 1; intAcc = 0.0; fracAcc = 0.0; fracDiv = 1.0; inFrac = false
      } else if (ch == '.') {
        if (inFrac) return Double.NaN
        inFrac = true
      } else if (ch >= '0' && ch <= '9') {
        if (inFrac) { fracDiv *= 10.0; fracAcc += (ch - '0') / fracDiv }
        else intAcc = intAcc * 10.0 + (ch - '0')
      } else return Double.NaN
      i += 1
    }
    parts(part) = intAcc + fracAcc
    if (part != 2) return Double.NaN
    val deg = sign * (parts(0) + parts(1) / 60.0 + parts(2) / 3600.0) * scale
    // round half-up to 5 dp, matching the reference's round(x, 5)
    math.floor(math.abs(deg) * 100000.0 + 0.5) / 100000.0 * math.signum(deg)
  }
}

abstract class CoordExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = DoubleType
  protected def method: String

  override def nullSafeEval(input: Any): Any =
    if (method == "hms") CoordParse.hms(input.asInstanceOf[UTF8String])
    else CoordParse.dms(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CoordParse.$method($c)")
}

case class HmsToDegExpr(child: Expression) extends CoordExpr {
  override protected def method: String = "hms"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "hms_to_deg"
}

case class DmsToDegExpr(child: Expression) extends CoordExpr {
  override protected def method: String = "dms"
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "dms_to_deg"
}

object CoordExpressions {

  /** Column API over the registered functions (Spark 4 Columns are built
    * from function calls, not raw expressions).
    */
  def hmsToDeg(c: Column): Column = call_function("hms_to_deg", c)
  def dmsToDeg(c: Column): Column = call_function("dms_to_deg", c)
}
