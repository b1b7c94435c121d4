package graft.core

import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cache lifetime, one synchronous rule: a BUILD owns the frames it
  * persists and the RDDs it checkpoints, and the next build frees them.
  *
  * A build is one [[owned]] call: every registered query
  * ([[graft.SparkEntry.queries]]) and every streaming micro-batch
  * ([[graft.streaming.StreamingReleaseAppend.processBatch]]). Operators
  * that persist a shared intermediate (a shingle or term-frequency frame
  * several stages of one returned plan consume) hand it over with
  * [[own]] and stop tracking it. Eager stage boundaries
  * (`localCheckpoint(true)`) need no hand-over: their blocks are raw RDD
  * persists, invisible to `DataFrame.unpersist`, and a build owns every
  * RDD checkpointed while its body runs.
  *
  * Contract: the frames a build returns answer any number of actions,
  * and a retry after a failed action, until the next build opens. So do
  * lazy members read after construction (`ReleasePipeline.Result.stats`
  * and `packed`, `AppendResult.newKept`/`stats`). Frames handed to
  * [[own]] between builds go to the last one opened. Checkpoints made
  * outside every build body (before a build opened, or by code running
  * after it returned) are never freed here; they are the caller's, as
  * with plain Spark. An [[owned]] call inside a running build joins that
  * build instead of freeing it.
  *
  * Builds are per SparkContext, not per session: a stream runs its
  * micro-batches on its own clone of the session, so a finished stream's
  * last micro-batch is freed by the next build anywhere, and the
  * checkpoint window spans every session of the context. Builds on one
  * context are therefore sequential.
  */
object Frames {
  /** One build's holdings: the frames handed to [[own]] and the ids of
    * the RDDs checkpointed while a body of the build ran.
    */
  private final class Build(val sc: SparkContext) {
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var checkpoints = Set.empty[Int]
    var running = 0
  }

  private var current: Option[Build] = None // guarded by `this`

  private def on(sc: SparkContext) = current.filter(_.sc eq sc)

  /** Hand persisted `frames` to the current build. */
  def own(spark: SparkSession, frames: DataFrame*): Unit = synchronized {
    val sc = spark.sparkContext
    val b = on(sc).getOrElse { val b = new Build(sc); current = Some(b); b }
    b.frames ++= frames
  }

  /** Open a new build: free what the previous build owned (its
    * handed-over frames and the RDDs checkpointed while it ran), then run
    * `body`, whose persists and checkpoints the new build owns.
    */
  def owned[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val (b, before) = synchronized {
      on(sc).filter(_.running > 0) match {
        case Some(open) => open.running += 1; (open, None)
        case None =>
          on(sc).foreach { prev =>
            prev.frames.foreach(_.unpersist(blocking = false))
            val live = sc.getPersistentRDDs
            prev.checkpoints.foreach(id => live.get(id).foreach(_.unpersist(blocking = false)))
          }
          val next = new Build(sc)
          next.running = 1
          current = Some(next)
          (next, Some(checkpointed(sc)))
      }
    }
    try body
    finally synchronized {
      b.running -= 1
      before.foreach(ids => b.checkpoints ++= checkpointed(sc) -- ids)
    }
  }

  /** Ids of the context's persisted RDDs that are checkpointed. SQL-cache
    * column buffers live in `getPersistentRDDs` too, but belong to
    * CacheManager entries: an RDD-level unpersist would leave the entry
    * alive over a dead buffer, so those are freed through [[own]]
    * (`DataFrame.unpersist`) only.
    */
  private def checkpointed(sc: SparkContext): Set[Int] =
    sc.getPersistentRDDs.filter(_._2.isCheckpointed).keySet.toSet
}
