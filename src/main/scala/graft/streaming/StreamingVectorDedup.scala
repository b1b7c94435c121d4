package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Stages
import graft.functions.{VectorExpressions, VectorFns}

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
  * Durability contract (at-least-once): the `_batches/<id>` marker is
  * created AFTER the survivors' append commits, so a crash between the
  * two makes re-delivery append the batch's band rows a second time.
  * This window is deliberate — the reverse order (marker first) would
  * SKIP the append on re-delivery and lose index rows. Duplicate index
  * rows never change dedup output (candidate drops are verified and
  * `distinct`-ed), they only bloat the index; [[VectorBandIndex.compact]]
  * scrubs them.
  */
object StreamingVectorDedup {

  final class VectorBandIndex(
      val dir: String,
      val bandBits: Int = 8,
      val bands: Int = 16,
      val threshold: Double = 0.9
  ) extends Serializable {
    require(bandBits > 0 && bandBits <= 63 && bands > 0, "invalid banding")

    private def indexExists(spark: SparkSession): Boolean =
      IndexMaintenance.indexExists(spark, dir)

    /** Dedup one batch against the index AND within itself; append the
      * survivors' band rows; return the surviving rows of `batch`
      * (original columns).
      *
      * Semantics mirror the text index: a row survives iff no verified
      * near-dup with a smaller id exists in the same batch and no
      * verified near-dup exists in the index. Index matches with the
      * probe's OWN id are excluded, and with `batchId` set the append is
      * skipped when that batch already committed (`_batches/<id>`
      * marker) — at-least-once re-delivery re-derives identical output
      * without re-appending (same retry contract as the text index).
      */
    def dedupeBatch(batch: DataFrame, vecCol: String, idCol: String,
                    batchId: Option[Long] = None,
                    appendToIndex: Boolean = true): DataFrame = {
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
      val dupVsIndex: DataFrame =
        if (indexExists(spark)) {
          spark.read.parquet(dir).as("ix")
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

      if (appendToIndex) {
        val fsys = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val markerPath = batchId.map(id => new org.apache.hadoop.fs.Path(s"$dir/_batches/$id"))
        if (!markerPath.exists(fsys.exists)) {
          val survivors = banded.join(dropIds, Seq("id"), "left_anti")
          // A batch whose rows were all filtered (null/empty vectors) or
          // all dropped must not append: an empty append on a fresh dir
          // leaves a data-less `_SUCCESS`-only index the next batch
          // cannot read. The marker is still written — the batch IS
          // processed, re-delivery has nothing to redo.
          if (!survivors.isEmpty) {
            survivors.repartition(col("band"))
              .write.mode("append").partitionBy("band").parquet(dir)
          }
          // Marker AFTER the data commits: see the durability contract in
          // the object Scaladoc (a crash in between re-appends once;
          // duplicates are output-invisible and compact() scrubs them).
          markerPath.foreach { m => fsys.mkdirs(m.getParent); fsys.create(m, true).close() }
        }
      }
      banded.unpersist()

      batch.join(dropIds.withColumnRenamed("id", "__did"),
        col(s"`$idCol`") === col("__did"), "left_anti")
    }

    /** Maintenance: [[IndexMaintenance.compact]] (shared with the text
      * index) — rewrite each band partition as `filesPerBand` files
      * sorted by `bucket`, scrub append/marker crash-window duplicates,
      * recover from a previously crashed compact.
      */
    def compact(spark: SparkSession, filesPerBand: Int = 1): Unit =
      IndexMaintenance.compact(spark, dir, bands, filesPerBand, "bucket")
  }

  /** Wire an embedding stream through a [[VectorBandIndex]] — the vector
    * twin of [[StreamingDedup.nearDupAvailableNow]]: drain available
    * input with `Trigger.AvailableNow`, dedup each micro-batch against
    * the persistent registry and within itself, hand survivors to
    * `onSurvivors`. File-source checkpointing plus the batch-id ledger
    * make the drain exactly-once under crash re-delivery.
    *
    * `compactEvery > 0` schedules [[VectorBandIndex.compact]] after
    * every `compactEvery`-th batch id (id-keyed, restart-stable; 0 =
    * append-only). Running inside foreachBatch satisfies the
    * maintenance contract's single-writer rule by construction —
    * micro-batches are serialized, so the swap never races an append.
    */
  def nearDupAvailableNow(
      docs: DataFrame,
      index: VectorBandIndex,
      vecCol: String,
      idCol: String,
      checkpoint: String,
      onSurvivors: (DataFrame, Long) => Unit,
      compactEvery: Int = 0,
      filesPerBand: Int = 1
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    docs.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onSurvivors(index.dedupeBatch(batch, vecCol, idCol, Some(batchId)),
          batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          index.compact(batch.sparkSession, filesPerBand)
      }
      .start()
  }
}
