package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Backward as-of join (reference J9, `candidate/transform.py:107-136`):
  * for each left row, attach the single right row with the greatest
  * `rightTs <= leftTs`, within equal `byKeys` groups.
  *
  * Spark has no native as-of join; this is the scalable rewrite:
  *
  * union-and-fill strategy — tag both sides, union on (byKeys, ts), then
  * `last(rightCols, ignoreNulls)` over a window partitioned by byKeys and
  * ordered by (ts, side). One shuffle on byKeys, sort-merge-friendly, no
  * O(n·m) range-join blowup; skew is bounded by the per-key row count.
  * At 100 TB the byKeys partitioning distributes; a single hot key would
  * need salting + re-merge (not needed for the reference's beam-key domain,
  * ≤ ~780 beams).
  */
object AsOf {

  /** @param left      left (probe) frame
    * @param right     right (reference) frame
    * @param byKeys    equality keys, present under these names on BOTH sides
    * @param leftTs    as-of column on the left
    * @param rightTs   as-of column on the right
    * @param rightCols right columns to attach (must not collide with left)
    */
  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      byKeys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String]
  ): DataFrame = {
    // Backtick-quote every name-based reference: callers use dotted flat
    // column names ("cand.dm") that bare col() would read as struct access.
    def q(n: String): Column = col(s"`$n`")
    val keyCols = byKeys.map(q)
    // Side 0 = right (reference) rows sort before side 1 = left rows at equal
    // ts, so a right row at exactly leftTs IS matched (backward-inclusive).
    // Null right timestamps never match (they'd sort nulls-first and leak
    // their columns into every left row via last(ignoreNulls) — the native
    // exec skips them, and the two paths must agree).
    val rTagged = right.where(q(rightTs).isNotNull).select(
      keyCols ++ Seq(q(rightTs).cast("timestamp").as("__asof_ts"), lit(0).as("__side")) ++
        rightCols.map(c => q(c).as(s"__r_$c")): _*
    )
    val lTagged = left.select(
      left.columns.map(q) ++
        Seq(q(leftTs).cast("timestamp").as("__asof_ts"), lit(1).as("__side")) ++
        rightCols.map(c => lit(null).as(s"__r_$c")): _*
    )
    // Align schemas: right side needs the left columns as nulls.
    val leftOnly = left.columns.filterNot(byKeys.contains)
    val rAligned = rTagged.select(
      keyCols ++
        leftOnly.map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++
        Seq(col("__asof_ts"), col("__side")) ++
        rightCols.map(c => col(s"`__r_$c`")): _*
    )
    val lAligned = lTagged.select(
      keyCols ++ leftOnly.map(q) ++ Seq(col("__asof_ts"), col("__side")) ++
        rightCols.map(c => col(s"`__r_$c`")): _*
    )
    val w = Window
      .partitionBy(keyCols: _*)
      .orderBy(col("__asof_ts").asc, col("__side").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = rAligned.unionByName(lAligned)
      .select(
        (byKeys ++ leftOnly).map(q) ++ Seq(col("__side")) ++
          rightCols.map(c => last(col(s"`__r_$c`"), ignoreNulls = true).over(w).as(c)): _*
      )
    filled.where(col("__side") === 1).drop("__side")
  }

  /** Native sort-merge as-of join via the custom
    * [[graft.plans.AsOfJoinPlan]] operator (requires the
    * [[graft.plans.AsOfJoinStrategy]] planner strategy — injected by
    * [[graft.GraftExtensions]], or added by one [[graft.Sessions.init]]).
    * Same semantics as [[joinBackward]] with a strictly smaller plan:
    * shuffle + sort per side + streaming merge.
    *
    * The right side is re-aliased column-by-column first, giving it fresh
    * expression ids so self-source as-of joins (left and right derived from
    * the same table) are safe.
    */
  def joinBackwardSortMerge(
      left: DataFrame,
      right: DataFrame,
      byKeys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightCols: Seq[String]
  ): DataFrame = {
    def q(n: String): Column = col(s"`$n`")
    val rCols = (byKeys :+ rightTs) ++ rightCols
    val rSel  = right.select(rCols.map(c => q(c).as(s"__r_$c")): _*)
    val lPlan = left.queryExecution.analyzed
    val rPlan = rSel.queryExecution.analyzed
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"column $n not found in ${p.output.map(_.name)}"))
    val node = graft.plans.AsOfJoinPlan(
      lPlan, rPlan,
      byKeys.map(attr(lPlan, _)),
      byKeys.map(k => attr(rPlan, s"__r_$k")),
      attr(lPlan, leftTs),
      attr(rPlan, s"__r_$rightTs"),
      rightCols.map(c => attr(rPlan, s"__r_$c")))
    val df = org.apache.spark.sql.GraftSqlShim.ofRows(left.sparkSession, node)
    rightCols.foldLeft(df)((acc, c) => acc.withColumnRenamed(s"__r_$c", c))
  }
}
