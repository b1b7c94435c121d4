package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming._

/** Streaming token-budget mixture filling: the arrival-order counterpart
  * of [[graft.operators.Sampling.byTokenBudget]] (whose hash-order prefix
  * is a BATCH construct — a stream cannot wait to order by hash). Docs
  * stream in; each stratum fills until its token budget exhausts, and
  * every input emits a verdict row (`kept`, running totals) so downstream
  * either filters `kept` (the mixture) or monitors fill rates per source.
  *
  * Two fill policies, both deterministic given the arrival order:
  *  - `strictPrefix = true`: a doc is kept iff the running total of ALL
  *    arrivals so far (kept or not) stays within budget — exactly the
  *    batch operator's `cum <= B` rule applied to arrival order, so once
  *    a stratum overflows nothing later is kept.
  *  - `strictPrefix = false` (default): greedy best-effort — only KEPT
  *    docs consume budget, so a doc too large to fit skips while a later
  *    smaller one may still fill the remainder (the streaming-native
  *    semantic; an acquisition feed shouldn't starve because one oversized
  *    doc arrived early).
  *
  * Within a micro-batch each stratum's rows process in ascending `doc_id`
  * order (the iterator is buffered and sorted — micro-batch-bounded, the
  * standard cost of deterministic arbitrary-state processing); across
  * batches, order is delivery order. State per stratum is two longs in a
  * RocksDB-backed ValueState — O(strata), disk-spillable, restart-safe.
  */
object StreamingBudgetFill {

  final case class Doc(stratum: String, doc_id: Long, n_tokens: Long)
  final case class Verdict(stratum: String, doc_id: Long, n_tokens: Long,
                           kept: Boolean, spent: Long, seen_tokens: Long)
  final case class Fill(seen: Long, spent: Long)

  class FillProcessor(budgets: Map[String, Long], defaultBudget: Long,
                      strictPrefix: Boolean)
      extends StatefulProcessor[String, Doc, Verdict] {
    @transient private var fill: ValueState[Fill] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      fill = getHandle.getValueState[Fill]("fill", Encoders.product[Fill],
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[Doc],
                                 tv: TimerValues): Iterator[Verdict] = {
      val budget = budgets.getOrElse(key, defaultBudget)
      var st = if (fill.exists()) fill.get() else Fill(0L, 0L)
      val out = rows.toArray.sortBy(_.doc_id).map { d =>
        val seen = st.seen + d.n_tokens
        val cum = (if (strictPrefix) st.seen else st.spent) + d.n_tokens
        val kept = cum <= budget
        st = Fill(seen, if (kept) st.spent + d.n_tokens else st.spent)
        Verdict(key, d.doc_id, d.n_tokens, kept, st.spent, st.seen)
      }
      fill.update(st)
      out.iterator
    }
  }

  /** Wire: group the doc stream by stratum, run the stateful fill.
    * TimeMode.None — budget filling is an arrival-order concept,
    * independent of event time, and the fill registers no timers (under
    * `Trigger.AvailableNow` a ProcessingTime query keeps scheduling
    * no-data micro-batches and never terminates).
    */
  def verdicts(docs: Dataset[Doc], budgets: Map[String, Long],
               defaultBudget: Long = 0L,
               strictPrefix: Boolean = false): Dataset[Verdict] = {
    import docs.sparkSession.implicits._
    require((budgets.values ++ Seq(defaultBudget)).forall(_ >= 0L),
      "budgets must be non-negative")
    docs.groupByKey(_.stratum)
      .transformWithState(new FillProcessor(budgets, defaultBudget, strictPrefix),
        TimeMode.None(), OutputMode.Append())
  }
}
