package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass document-sketch expressions: `minhash_sig(text, n, k)` and
  * `simhash64(text)`.
  *
  * A MinHash/SimHash signature is PER-ROW work — tokenize once, hash each
  * shingle once, fold into k mins (or 64 bit votes). Computing it as an
  * explode + k aggregate columns costs a shuffle, k-wide codegen (seconds of
  * janino compile for k=64), and re-materialized shingle strings; computing
  * it as nested higher-order functions is interpreted per element. This
  * expression does the whole fold in one compiled kernel call per row:
  * shuffle-free, embarrassingly parallel, the shape that survives a 100 TB
  * corpus unchanged.
  *
  * Signatures are BIT-IDENTICAL to the composed-Column paths
  * ([[graft.operators.Dedup.minhashSignature]] /
  * [[graft.operators.Dedup.simhash64]], spec-enforced): shingle/token hashes
  * use Spark's own XxHash64 (seed 42) over the same "w1 w2 w3" shingle
  * strings, and the same universal-hash family (see
  * [[SketchKernels.hashFamily]]).
  */
object SketchKernels {

  val MersennePrime31: Long = 2147483647L // 2^31 - 1

  /** Universal-hash family h_i(x) = (a_i * x + b_i) mod P. Deterministic
    * (seeded PRNG), odd 31-bit multipliers; operands stay within 32/31 bits
    * so products never overflow a signed long (ANSI-safe).
    */
  def hashFamily(numHashes: Int): Array[(Long, Long)] = {
    val rnd = new java.util.Random(42)
    Array.fill(numHashes)(
      ((rnd.nextInt() & 0x7FFFFFFFL) | 1L, rnd.nextInt() & 0x7FFFFFFFL))
  }

  private val familyCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()

  private def family(k: Int): (Array[Long], Array[Long]) =
    familyCache.computeIfAbsent(k, k => {
      val fam = hashFamily(k)
      (fam.map(_._1), fam.map(_._2))
    })

  private def xx64(s: String): Long =
    XxHash64Function.hash(UTF8String.fromString(s), StringType, 42L)

  private def tokensOf(u: UTF8String): Array[String] =
    u.toString.trim.split("\\s+").filter(_.nonEmpty)

  /** MinHash signature over word n-gram shingles (same shingle definition as
    * [[TextFns.wordShingles]]: docs with <= n tokens yield one whole-doc
    * shingle). Returns null when the document has no tokens.
    */
  def minhashSig(text: UTF8String, n: Int, k: Int): GenericArrayData = {
    val words = tokensOf(text)
    if (words.isEmpty) return null
    val (as, bs) = family(k)
    val sig = Array.fill(k)(Long.MaxValue)
    val nShingles = if (words.length <= n) 1 else words.length - n + 1
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      val end = math.min(i + n, words.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      val h = xx64(sb.toString) & 0xFFFFFFFFL
      var f = 0
      while (f < k) {
        val v = (h * as(f) + bs(f)) % MersennePrime31
        if (v < sig(f)) sig(f) = v
        f += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** DISTINCT word n-gram shingles, BINARY-SORTED (same shingle definition
    * as [[TextFns.wordShingles]] + `array_distinct`: docs with <= n tokens
    * yield the single whole-doc shingle; token-less docs yield [""]). One
    * compiled pass instead of the interpreted transform/slice/concat HOF
    * tree, which gets re-expanded per consuming expression.
    *
    * The output is sorted by UTF8String binary order (the same order
    * `sort_array` uses) so per-pair verification can run the O(|A|+|B|)
    * two-pointer [[sortedIntersectSize]] kernel instead of hash-building
    * `array_intersect`. Shingle sets are set-semantic everywhere; no
    * consumer depends on occurrence order.
    */
  def wordShingleSet(text: UTF8String, n: Int): GenericArrayData = {
    val words = tokensOf(text)
    if (words.isEmpty)
      return new GenericArrayData(Array[Any](UTF8String.fromString("")))
    val out = new java.util.TreeSet[UTF8String]
    val nShingles = if (words.length <= n) 1 else words.length - n + 1
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i < nShingles) {
      sb.setLength(0)
      val end = math.min(i + n, words.length)
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(words(j))
        j += 1
      }
      out.add(UTF8String.fromString(sb.toString))
      i += 1
    }
    new GenericArrayData(out.toArray(Array.empty[AnyRef]))
  }

  /** Intersection size of two arrays of SORTED strings (the
    * [[wordShingleSet]] output order) — a two-pointer merge with binary
    * UTF8 comparisons, O(|A|+|B|) per pair with zero allocation, vs
    * `array_intersect`'s per-row hash-set build. Inputs MUST be sorted
    * ascending; unsorted input silently undercounts (spec-guarded by
    * equality with the naive inverted-index path).
    */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    var i = 0; var j = 0; var s = 0
    val na = a.numElements(); val nb = b.numElements()
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { s += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    s
  }

  /** Dedup-canonical text normalization, one compiled pass — identical to
    * [[TextFns.normalize]] (lowercase; non-letter/number runs collapse to a
    * single space; falls back to the space-trimmed raw text when nothing
    * survives). The Column version chains two regex replaces per use site;
    * this walks the string once with Unicode category checks.
    */
  def normText(text: UTF8String): UTF8String = {
    val lowered = text.toString.toLowerCase(java.util.Locale.ROOT)
    val sb = new java.lang.StringBuilder(lowered.length)
    var pendingSep = false
    var i = 0
    while (i < lowered.length) {
      val cp = lowered.codePointAt(i)
      val t = Character.getType(cp)
      val keep = t == Character.UPPERCASE_LETTER || t == Character.LOWERCASE_LETTER ||
        t == Character.TITLECASE_LETTER || t == Character.MODIFIER_LETTER ||
        t == Character.OTHER_LETTER || t == Character.DECIMAL_DIGIT_NUMBER ||
        t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER
      if (keep) {
        if (pendingSep && sb.length > 0) sb.append(' ')
        sb.appendCodePoint(cp)
        pendingSep = false
      } else pendingSep = true
      i += Character.charCount(cp)
    }
    if (sb.length > 0) UTF8String.fromString(sb.toString)
    else {
      // mirror Column trim(): strips 0x20 only
      val raw = text.toString
      var a = 0; var b = raw.length
      while (a < b && raw.charAt(a) == ' ') a += 1
      while (b > a && raw.charAt(b - 1) == ' ') b -= 1
      UTF8String.fromString(raw.substring(a, b))
    }
  }

  /** 64-bit SimHash over whitespace tokens (per-token XxHash64, per-bit
    * majority vote). Empty documents hash to 0, matching
    * [[graft.operators.Dedup.simhash64]].
    */
  def simhash(text: UTF8String): Long = {
    val words = tokensOf(text)
    if (words.isEmpty) return 0L
    val votes = new Array[Int](64)
    var i = 0
    while (i < words.length) {
      val h = xx64(words(i))
      var j = 0
      while (j < 64) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) * 2 >= words.length) sig |= (1L << j)
      j += 1
    }
    sig
  }
}

/** `minhash_sig(text, n, k)` -> array<long>[k]; null for token-less docs. */
case class MinHashSigExpr(child: Expression, shingleN: Int, numHashes: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && shingleN > 0 && numHashes > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "minhash_sig(text STRING, n > 0, k > 0) expected")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    SketchKernels.minhashSig(input.asInstanceOf[UTF8String], shingleN, numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.SketchKernels.minhashSig($c, $shingleN, $numHashes);
      ${ev.isNull} = ${ev.value} == null;
    """)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "minhash_sig"
}

/** `word_shingles(text, n)` -> array<string> of DISTINCT word n-grams. */
case class WordShinglesExpr(child: Expression, shingleN: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && shingleN > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("word_shingles(text STRING, n > 0) expected")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    SketchKernels.wordShingleSet(input.asInstanceOf[UTF8String], shingleN)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.wordShingleSet($c, $shingleN)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** `norm_text(text)` -> dedup-canonical normalized string. */
case class NormTextExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("norm_text(text STRING) expected")

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    SketchKernels.normText(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.normText($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "norm_text"
}

/** `simhash64(text)` -> long (0 for token-less docs). */
case class SimHash64Expr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("simhash64(text STRING) expected")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.simhash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "simhash64"
}

/** `sorted_intersect_size(a, b)` -> int: |A ∩ B| for two SORTED
  * array<string> (the `word_shingles` output order). Two-pointer merge in
  * whole-stage codegen — the exact-verification kernel of the Jaccard
  * dedup family.
  */
case class SortedIntersectSizeExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _                        => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_size expects two array<string>, got ${left.dataType}, ${right.dataType}")

  override def dataType: DataType = IntegerType

  override def nullSafeEval(a: Any, b: Any): Any =
    SketchKernels.sortedIntersectSize(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SketchKernels.sortedIntersectSize($a, $b);")

  override protected def withNewChildrenInternal(newLeft: Expression,
                                                 newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sorted_intersect_size"
}

object SketchExpressions {

  /** Argument check of the catalogue builders: `e` must be a literal. */
  private[graft] def foldInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval().asInstanceOf[Number].intValue()
  }

  def minhashSig(text: Column, n: Int, k: Int): Column =
    call_function("minhash_sig", text, lit(n), lit(k))
  def simhash64(text: Column): Column = call_function("simhash64", text)
  def wordShingles(text: Column, n: Int): Column =
    call_function("word_shingles", text, lit(n))
  def normText(text: Column): Column = call_function("norm_text", text)
  def sortedIntersectSize(a: Column, b: Column): Column =
    call_function("sorted_intersect_size", a, b)
}
