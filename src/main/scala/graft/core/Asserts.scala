package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, when}

/** Shape-invariant checks (reference `UnexpectedShapeError`,
  * `core/exceptions.py:8-9`; call sites e.g.
  * `observation/transform.py:98-103,171-174`, `candidate/transform.py:138-143`).
  */
final class UnexpectedShapeException(msg: String) extends RuntimeException(msg)

object Asserts {

  /** Fail if any of `cols` has a null — ALL columns checked in ONE
    * aggregate job (one job per column scans the frame N times).
    */
  def noNullsAll(df: DataFrame, cols: Seq[String], context: String): DataFrame = {
    if (cols.nonEmpty) {
      val counts = df.select(
        cols.map(c0 => count(when(col(s"`$c0`").isNull, 1)).as(c0)): _*).head()
      cols.zipWithIndex.foreach { case (c0, i) =>
        if (counts.getLong(i) > 0)
          throw new UnexpectedShapeException(s"$context: unexpected null in $c0")
      }
    }
    df
  }
}
