package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Deterministic release of operator-internal persisted frames.
  *
  * Operators like the prefix-filtered similarity joins persist a shared
  * intermediate (the shingle / token-count frame) that several stages of ONE
  * returned query consume. The persist must outlive the operator call (the
  * result is lazy), but without a release path every invocation leaks a
  * cached RDD for the session lifetime — dead copies accumulate, evict live
  * working sets, and visibly slow later queries in the same session.
  *
  * [[releaseAfterNextAction]] unpersists the frames as soon as the NEXT
  * action on the session completes. For the intended call pattern (build
  * query → run one action over it) that is exactly the action that consumed
  * them. If an unrelated action fires first, the frames are released early —
  * which is CORRECT (persist is a hint; consumers recompute), just slower.
  * This trade keeps operators fully lazy so plans stay inspectable
  * (`explain`, plan-shape specs) while bounding cache lifetime to one query.
  *
  * Callers that run eager actions INSIDE an operator (e.g. the skew-guard
  * df probe) must register AFTER those actions, or the probe itself would
  * trigger the release.
  *
  * Registration is race-safe against those probes: listener events are
  * delivered asynchronously, so a probe that completed just before
  * registration could still deliver its `onSuccess` to the new listener —
  * releasing the frames before the real query runs (correct but slow: the
  * consumer silently recomputes) and, with no later action, leaking the
  * listener for the session lifetime. [[releaseAfterNextAction]] therefore
  * drains the listener bus BEFORE registering, so only actions that start
  * after registration can fire the release.
  */
object Frames {
  /** Deterministic release of DEAD RDD blocks — the localCheckpoint
    * counterpart of [[releaseAfterNextAction]].
    *
    * Pipeline stage boundaries are eager `localCheckpoint(true)` frames
    * (lineage truncation — see ReleasePipeline/CcnetPipeline). Their
    * blocks are raw RDD persists, invisible to `DataFrame.unpersist` /
    * `catalog.clearCache`, and with only GC-driven ContextCleaner
    * cleanup they accumulate for the whole session: a 167-query bench
    * or Verify run carries hours of dead checkpoint blocks, measurably
    * taxing late-running queries (r17 driver bench: untouched trivial
    * queries in the alphabetical tail ran 1.3-2.2x slower than a fresh
    * session).
    *
    * Called at the END of a query's construction (SparkEntry wraps every
    * registered query): it snapshots the persistent-RDD ids that exist
    * NOW — the just-built query's checkpoints plus any dead leftovers —
    * and unpersists exactly that snapshot when the next action on the
    * session completes. For the harness call pattern (build → one
    * consuming action: Bench's count, Verify's write) that is the action
    * that consumed them, after which the blocks are dead by construction.
    * RDDs persisted AFTER registration (a later query's construction
    * firing this listener through its own eager checkpoint actions —
    * the ExplainDump pattern, where a built query is never consumed) are
    * NOT in the snapshot and survive untouched, so a stale listener can
    * never free blocks a live query still needs.
    */
  def sweepRddBlocksAfterNextAction(spark: SparkSession): Unit = {
    // CHECKPOINTED RDDs only. SQL-cache column buffers also live in
    // getPersistentRDDs, but those belong to CacheManager entries: an
    // RDD-level unpersist would leave the entry alive with a dead
    // buffer, and a later `.persist()` of a canonically-equal plan then
    // binds to the poisoned entry and recomputes on every action
    // (measured: q128's gate doubled, 8.2 -> 16.8s, when the sweep was
    // unfiltered). Cached frames have a working release path already
    // (DataFrame.unpersist via releaseAfterNextAction); checkpoint
    // blocks are the ones nothing else can free.
    val snapshot = spark.sparkContext.getPersistentRDDs
      .filter(_._2.isCheckpointed).keySet.toSet
    if (snapshot.isEmpty) return
    // Drain only when a listener will be registered: a build that
    // checkpointed nothing pays no listener-bus wait.
    org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        sweep()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        sweep()
      private def sweep(): Unit = {
        val live = spark.sparkContext.getPersistentRDDs
        snapshot.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
        spark.listenerManager.unregister(this)
      }
    }
    spark.listenerManager.register(listener)
  }

  def releaseAfterNextAction(spark: SparkSession, frames: DataFrame*): Unit = {
    org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        release()
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        release()
      private def release(): Unit = {
        frames.foreach(_.unpersist(blocking = false))
        spark.listenerManager.unregister(this)
      }
    }
    spark.listenerManager.register(listener)
  }
}
