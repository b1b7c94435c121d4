package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom `Generator`-backed table function — the SURVEY §2.11 UDTF idiom:
  * `ngram_tuples(text, n)` yields one row per word n-gram with its
  * position: (pos INT, ngram STRING). Usable from SQL and in select():
  *
  * {{{ spark.sql("SELECT doc_id, t.* FROM docs LATERAL VIEW ngram_tuples(text, 3) t AS pos, ngram") }}}
  *
  * Positions make downstream locality-aware dedup (rolling fingerprints,
  * positional shingle weighting) possible, which a bare explode of a
  * shingle array loses.
  */
case class NGramTuplesGenerator(text: Expression, n: Expression)
    extends Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(text, n)

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType && n.foldable &&
        (n.dataType == IntegerType || n.dataType == LongType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "ngram_tuples(text STRING, n INT-literal) expected")

  override def elementSchema: StructType = StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("ngram", StringType, nullable = false)))

  private lazy val nVal: Int = n.eval().asInstanceOf[Number].intValue()

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = text.eval(input)
    if (t == null) return Nil
    val words = t.asInstanceOf[UTF8String].toString.trim.split("\\s+").filter(_.nonEmpty)
    if (words.isEmpty) return Nil
    if (words.length <= nVal) {
      Seq(InternalRow(0, UTF8String.fromString(words.mkString(" "))))
    } else {
      (0 to words.length - nVal).map { i =>
        InternalRow(i, UTF8String.fromString(words.slice(i, i + nVal).mkString(" ")))
      }
    }
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(text = newChildren(0), n = newChildren(1))

  override def prettyName: String = "ngram_tuples"
}
