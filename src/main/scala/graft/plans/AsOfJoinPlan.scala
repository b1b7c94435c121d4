package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Whole-operator custom plan for the backward as-of join (SURVEY.md §4.2's
  * optional phase-3 item, reference J9 `candidate/transform.py:107-136`):
  * a LogicalPlan node + SparkStrategy + BinaryExecNode implementing a
  * SORT-MERGE as-of — one shuffle on the by-keys, one sort per side, then a
  * streaming per-partition merge with O(1) state (the last at-or-before
  * right row per key). No window materialization, no union, no range-join
  * blowup: strictly less work than any composition of built-ins.
  *
  * Scale shape: identical to SortMergeJoin — hash-clustered children, spill
  * -safe sorts, merge never holds more than one buffered right row.
  */
case class AsOfJoinPlan(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightAttach: Seq[Attribute]) extends BinaryNode {
  // The exec's merge ordering is built from the LEFT key/ts datatypes only;
  // mismatched right types (e.g. int vs long by-keys) would silently
  // mis-compare, so reject them at construction.
  require(leftKeys.length == rightKeys.length &&
    leftKeys.zip(rightKeys).forall { case (l, r) => l.dataType == r.dataType },
    s"as-of by-key datatypes must match pairwise: " +
      s"${leftKeys.map(_.dataType)} vs ${rightKeys.map(_.dataType)}")
  require(leftTs.dataType == rightTs.dataType,
    s"as-of timestamp datatypes must match: ${leftTs.dataType} vs ${rightTs.dataType}")
  override def output: Seq[Attribute] = left.output ++ rightAttach.map(_.withNullability(true))
  override protected def withNewChildrenInternal(newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    rightAttach: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ rightAttach.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
    else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(k => SortOrder(k, Ascending)),
    (rightKeys :+ rightTs).map(k => SortOrder(k, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(k => SortOrder(k, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut  = left.output
    val rOut  = right.output
    val out   = output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTsA  = leftTs
    val rTsA  = rightTs
    val attach = rightAttach

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj   = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj   = UnsafeProjection.create(rKeys, rOut)
      val lTsBound   = BindReferences.bindReference(lTsA: Expression, lOut)
      val rTsBound   = BindReferences.bindReference(rTsA: Expression, rOut)
      val attachProj = UnsafeProjection.create(attach, rOut)
      val keyOrd     = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val nullAttach = new GenericInternalRow(attach.length)
      val joined     = new JoinedRow
      val outProj    = UnsafeProjection.create(out, out)

      new Iterator[InternalRow] {
        // Next unconsumed right row (key copied out of the projection buffer).
        private var rHaveNext  = false
        private var rKey: UnsafeRow = _
        private var rTsVal     = 0L
        private var rRow: InternalRow = _
        // Latest right row with key == current scan key and ts <= left ts.
        private var mKey: UnsafeRow = _
        private var mAttach: UnsafeRow = _

        advanceRight()

        private def advanceRight(): Unit = {
          rHaveNext = false
          while (!rHaveNext && rIter.hasNext) {
            val r  = rIter.next()
            val ts = rTsBound.eval(r)
            if (ts != null) {        // null as-of timestamps never match
              rRow = r
              rKey = rKeyProj(r).copy()
              rTsVal = ts.asInstanceOf[Number].longValue()
              rHaveNext = true
            }
          }
        }

        override def hasNext: Boolean = lIter.hasNext

        override def next(): InternalRow = {
          val l    = lIter.next()
          val lKey = lKeyProj(l)
          val lTs  = lTsBound.eval(l)
          if (lTs == null) {
            outProj(joined(l, nullAttach))
          } else {
            val lTsVal = lTs.asInstanceOf[Number].longValue()
            var cmp = if (rHaveNext) keyOrd.compare(rKey, lKey) else 1
            while (rHaveNext && (cmp < 0 || (cmp == 0 && rTsVal <= lTsVal))) {
              if (cmp == 0) { mKey = rKey; mAttach = attachProj(rRow).copy() }
              advanceRight()
              cmp = if (rHaveNext) keyOrd.compare(rKey, lKey) else 1
            }
            if (mKey != null && keyOrd.compare(mKey, lKey) == 0)
              outProj(joined(l, mAttach))
            else
              outProj(joined(l, nullAttach))
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoinPlan -> AsOfJoinExec. Injected with the
  * function catalogue by [[graft.GraftExtensions]]; [[graft.Sessions.init]]
  * adds it to a session built without that extension.
  */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p: AsOfJoinPlan =>
      AsOfJoinExec(p.leftKeys, p.rightKeys, p.leftTs, p.rightTs, p.rightAttach,
        planLater(p.left), planLater(p.right)) :: Nil
    case _ => Nil
  }
}
