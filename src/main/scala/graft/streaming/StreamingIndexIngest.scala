package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.operators.Bm25

/** Production wiring for CONTINUOUS retrieval-index ingest — the
  * entry point a crawl/release pipeline points its document landing
  * directory at to keep a persistent [[Bm25.DiskIndex]] current:
  *
  *   - file-source checkpointing: a restart never re-indexes a file
  *     already drained (and [[Bm25.DiskIndex.streamingWriter]]'s
  *     batch-id idempotency additionally skips a re-DELIVERED batch,
  *     so the crash window between sink write and checkpoint commit
  *     never double-counts a document);
  *   - maintenance is ON by default: every `compactEvery`-th batch id
  *     folds the per-batch directories into one compacted generation
  *     and refreshes the dl/stats/tstats artifacts (the id-keyed
  *     schedule is restart-stable), so a long-lived index never
  *     accumulates unbounded listings and serving always has a recent
  *     metadata generation — queries racing any crash window read the
  *     old generation or derive-from-tf, never wrong results;
  *   - `Trigger.AvailableNow` drains the backlog then stops — the
  *     incremental-batch pattern shared with [[IncrementalRunner]];
  *     run it from a scheduler for continuous operation.
  *
  * The landing schema must carry `idCol` (castable to long, globally
  * unique, NOT previously indexed — dedup runs upstream) and `textCol`.
  */
object StreamingIndexIngest {

  def run(spark: SparkSession, landingGlob: String, schema: StructType,
          index: Bm25.DiskIndex, idCol: String, textCol: String,
          checkpoint: String, compactEvery: Int = 64,
          maxFilesPerTrigger: Int = 0): StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    landingStream(spark, landingGlob, schema, maxFilesPerTrigger)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch(index.streamingWriter(idCol, textCol, compactEvery))
      .start()
  }

  /** The VECTOR twin of [[run]] — the same landing-dir ingestion story
    * for the persistent embedding band index
    * ([[StreamingVectorDedup.VectorBandIndex]]): file-source
    * checkpointing (a restart never re-drains a file; the index store's
    * `_committed/<id>` markers additionally make a re-DELIVERED batch's
    * append a no-op), per-batch dedup against the registry and within the batch,
    * survivors' band rows appended, and — maintenance ON by default —
    * [[StreamingVectorDedup.VectorBandIndex.compact]] after every
    * `compactEvery`-th batch id (id-keyed, restart-stable; single-writer
    * by construction inside foreachBatch). Deduped SURVIVORS flow to
    * `onSurvivors` (default: the index is the product, survivors are
    * dropped).
    *
    * The landing schema must carry `idCol` (castable to long, globally
    * unique) and `vecCol` (array of float/double).
    */
  def runVector(spark: SparkSession, landingGlob: String, schema: StructType,
                index: StreamingVectorDedup.VectorBandIndex, idCol: String,
                vecCol: String, checkpoint: String, compactEvery: Int = 64,
                maxFilesPerTrigger: Int = 0,
                onSurvivors: (org.apache.spark.sql.DataFrame, Long) => Unit =
                  (_, _) => ()): StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    StreamingVectorDedup.nearDupAvailableNow(
      landingStream(spark, landingGlob, schema, maxFilesPerTrigger),
      index, vecCol, idCol, checkpoint, onSurvivors,
      compactEvery = compactEvery)
  }

  private def landingStream(spark: SparkSession, landingGlob: String,
                            schema: StructType,
                            maxFilesPerTrigger: Int): org.apache.spark.sql.DataFrame = {
    val reader = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true")
    val sized =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader
    sized.parquet(landingGlob)
  }
}
