package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Stages
import graft.functions.{VectorExpressions, VectorFns}
import graft.load.IdempotentParquetSink

/** Incremental EMBEDDING near-duplicate detection against a persistent
  * band-partitioned sign-LSH index — the vector analogue of
  * [[StreamingDedup.LshIndex]] (text): documents arrive in batches, each
  * batch drops members whose verified cosine near-dup already exists in
  * the indexed corpus (or earlier in the same batch, greedy
  * keep-lowest-id), and the survivors' band rows append to the index.
  *
  * Blocking uses the same one-pass `sign_bands` kernel as the batch
  * operator ([[graft.operators.Similarity.cosineDupPairs]]), so
  * batch-indexed and stream-indexed corpora interoperate; every candidate
  * is verified with the EXACT cosine from the raw vectors stored beside
  * the bucket keys — emitted drops are never false positives.
  *
  * Scale notes (100 TB): the index is O(kept docs × bands) rows of
  * (id, vec, band, bucket) but the new batch is typically small, so AQE
  * builds the hash side from the batch and streams the index — no
  * shuffle of the index; band partition pruning applies when a batch
  * misses whole bands. The build side is NOT force-hinted: a caller
  * feeding a large backfill batch gets a plan change (sort-merge or
  * index-side build), not a driver OOM — the same contract as
  * `LmScore`/`Decontaminate`. Appends are per-batch parquet writes
  * partitioned by band; compaction is an offline concern like any
  * log-structured store.
  *
  * Durability contract (exactly-once): the rows live in
  * [[VectorBandIndex.store]], a band-partitioned
  * [[graft.load.IdempotentParquetSink]] — each batch id writes its own
  * directory with overwrite and commits by a `_committed/<id>` marker
  * created after the write, so a crash before the marker leaves an
  * invisible partial that the re-delivery overwrites, and a committed id
  * never appends twice.
  */
object StreamingVectorDedup {

  final class VectorBandIndex(
      val dir: String,
      val bandBits: Int = 8,
      val bands: Int = 16,
      val threshold: Double = 0.9
  ) extends Serializable {
    require(bandBits > 0 && bandBits <= 63 && bands > 0, "invalid banding")

    /** The index rows (id, v, n, band, bucket). Compaction writes one
      * file set per band, sorted by bucket so row-group min/max stats
      * prune probes within a band.
      */
    val store = new IdempotentParquetSink(dir, Seq("band"),
      compactLayout = _.repartition(bands, col("band")).sortWithinPartitions("bucket"))

    /** Dedup one batch against the index AND within itself; append the
      * survivors' band rows; return the surviving rows of `batch`
      * (original columns).
      *
      * Semantics mirror the text index: a row survives iff no verified
      * near-dup with a smaller id exists in the same batch and no
      * verified near-dup exists in the index. Index matches with the
      * probe's OWN id are excluded, so at-least-once re-delivery
      * re-derives identical output (same retry contract as the text
      * index).
      *
      * @param batchId `Some(id)` appends the survivors' band rows to
      *   [[store]] exactly once under that id; `None` probes only.
      */
    def dedupeBatch(batch: DataFrame, vecCol: String, idCol: String,
                    batchId: Option[Long]): DataFrame = {
      val spark = batch.sparkSession
      val base = batch
        .select(col(s"`$idCol`").cast("long").as("id"),
          col(s"`$vecCol`").as("v"))
        .where(col("v").isNotNull && size(col("v")) > 0)
        .withColumn("n", VectorFns.norm2(col("v")))
        .withColumn("__bands",
          VectorExpressions.signBands(col("v"), bandBits, bands))
      // batch-sized; MEMORY_ONLY — recompute (one kernel pass) beats spill
      val banded = base
        .select(col("id"), col("v"), col("n"),
          posexplode(col("__bands")).as(Seq("band", "bucket")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)

      def cosine(av: org.apache.spark.sql.Column, an: org.apache.spark.sql.Column,
                 bv: org.apache.spark.sql.Column, bn: org.apache.spark.sql.Column) =
        VectorFns.dot(av, bv) / (an * bn)

      // vs index: probe the big index with the (typically small) batch.
      // No broadcast hint — AQE picks the build side from runtime sizes,
      // so a large backfill batch degrades to a plan change, not an OOM.
      val indexed = store.read(spark)
      val dupVsIndex: DataFrame =
        if (indexed.columns.nonEmpty) {
          indexed.as("ix")
            .join(banded.as("nw"),
              col("ix.band") === col("nw.band") &&
                col("ix.bucket") === col("nw.bucket") &&
                col("ix.id") =!= col("nw.id"))
            .where(cosine(col("ix.v"), col("ix.n"), col("nw.v"), col("nw.n")) >= threshold)
            .select(col("nw.id").as("id")).distinct()
        } else spark.emptyDataFrame.withColumn("id", lit(0L)).where(lit(false))

      // within batch: any verified pair (a < b) drops b.
      val a = banded.as("a"); val b = banded.as("b")
      val dupInBatch = a.join(b,
          col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
            col("a.id") < col("b.id"))
        .where(cosine(col("a.v"), col("a.n"), col("b.v"), col("b.n")) >= threshold)
        .select(col("b.id").as("id")).distinct()

      val dropIds = dupVsIndex.union(dupInBatch).distinct()
        .transform(Stages.cut)

      batchId.foreach(id => store.append(
        banded.join(dropIds, Seq("id"), "left_anti").repartition(col("band")), id))
      banded.unpersist()

      batch.join(dropIds.withColumnRenamed("id", "__did"),
        col(s"`$idCol`") === col("__did"), "left_anti")
    }

    /** Maintenance: fold every committed batch into one compaction
      * generation of [[store]] (forced: a compact always rewrites the
      * layout, even over a single batch).
      */
    def compact(spark: SparkSession): Unit = store.compact(spark, force = true)
  }

  /** Wire an embedding stream through a [[VectorBandIndex]] — the vector
    * twin of [[StreamingDedup.nearDupAvailableNow]]: drain available
    * input with `Trigger.AvailableNow`, dedup each micro-batch against
    * the persistent registry and within itself, hand survivors to
    * `onSurvivors`. File-source checkpointing plus the store's
    * `_committed` markers make the drain exactly-once under crash
    * re-delivery.
    *
    * `compactEvery > 0` schedules [[VectorBandIndex.compact]] after
    * every `compactEvery`-th batch id (id-keyed, restart-stable; 0 =
    * append-only). Running inside foreachBatch satisfies the sink's
    * offline-compaction contract by construction — micro-batches are
    * serialized, so a compaction never races an append.
    */
  def nearDupAvailableNow(
      docs: DataFrame,
      index: VectorBandIndex,
      vecCol: String,
      idCol: String,
      checkpoint: String,
      onSurvivors: (DataFrame, Long) => Unit,
      compactEvery: Int = 0
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    docs.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onSurvivors(index.dedupeBatch(batch, vecCol, idCol, Some(batchId)),
          batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          index.compact(batch.sparkSession)
      }
      .start()
  }
}
