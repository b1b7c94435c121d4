package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.types.LongType

/** Surrogate-id minting (W2, reference `with_row_index(offset=1)` in
  * `candidate/transform.py:165-197`, `observation/transform.py:108-177`).
  *
  * [[denseId]] is the one way an entity id is minted: dense, contiguous,
  * 1-based, ordered by the caller's sort key. It sorts the frame once
  * (a parallel range shuffle, never a single-partition window) and numbers
  * that one sorted RDD with `zipWithIndex`, which counts the rows of each
  * of its own partitions and numbers each partition from the running
  * total. Counts and numbered rows come from the same shuffle output, so
  * they cannot disagree: only `numPartitions` counts are collected, and there
  * is no window, broadcast or id bit layout.
  *
  * The reference's loader remaps run-local ids to DB ids anyway
  * (`core/database_loader.py:182-189`), so contiguity is a convenience for
  * fixture parity, not a correctness requirement — but it's cheap to keep.
  */
object Ids {

  /** Mint a dense 1-based surrogate id column `idName` ordered by `order`
    * (ascending, nulls first, as `orderBy`), appended as the last column.
    * Equal to a global `row_number` window ordered by `order`; where the
    * order key has ties, the ids of one mint are still dense and distinct.
    *
    * Eager, like [[graft.core.Stages.cut]]: the sort's shuffle and one
    * count job run when this is called. The result plans over the
    * numbered RDD, so its lineage starts at the sort's shuffle output.
    */
  def denseId(df: DataFrame, idName: String, order: Seq[Column]): DataFrame = {
    val sorted = df.orderBy(order: _*)
    val rows = sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1)) }
    df.sparkSession.createDataFrame(rows, sorted.schema.add(idName, LongType, nullable = false))
  }
}
