package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Stages
import graft.load.IdempotentParquetSink
import graft.functions.TextFns
import graft.operators.Dedup

/** Streaming-shaped deduplication for a continuously arriving corpus.
  *
  * The reference dedups within a batch run (content-hash on ingest,
  * ska-src-maltopuft-etl: candidate/observation dedup during ETL); a 100 TB
  * training-data pipeline additionally needs dedup ACROSS arrivals — "is
  * this new document a (near-)copy of anything we already kept?". Two
  * Spark-native shapes:
  *
  *  1. [[exactWithinWatermark]] — pure Structured Streaming:
  *     `dropDuplicatesWithinWatermark` on the content fingerprint. State is
  *     bounded by the watermark (the state store only holds fingerprints
  *     younger than the delay), so it runs forever on a real stream. Right
  *     when duplicates cluster in time (re-crawls, retries, mirrored feeds).
  *
  *  2. [[LshIndex]] — incremental MinHash-LSH near-dup against a PERSISTENT
  *     disk-backed signature index, driven per micro-batch via
  *     `foreachBatch` ([[nearDupAvailableNow]]). The index is the corpus
  *     registry: it grows with the kept corpus (disk, partitioned by LSH
  *     band — NOT streaming state), while per-batch work stays proportional
  *     to the batch. This is the scale path for "dedup the next crawl
  *     against the existing 100 TB corpus".
  */
object StreamingDedup {

  /** Exact streaming dedup: keep the first arrival per content fingerprint,
    * forgetting fingerprints once the watermark passes them. Empty/blank
    * docs never form a dedup cluster (per-row key), matching
    * [[graft.operators.Dedup.exactByFingerprint]].
    *
    * @param docs      streaming DataFrame with `textCol`, `idCol`, `tsCol`
    * @param delay     watermark delay = max duplicate-arrival skew; state
    *                  size is O(docs per delay window), not O(corpus)
    */
  def exactWithinWatermark(
      docs: DataFrame,
      textCol: String,
      idCol: String,
      tsCol: String,
      delay: String = "10 minutes"
  ): DataFrame = {
    val key = when(length(trim(col(s"`$textCol`"))) === 0,
        concat(lit("__empty__:"), col(s"`$idCol`").cast("string")))
      .otherwise(TextFns.fingerprint(col(s"`$textCol`")))
    docs
      .withColumn("__fp", key)
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")
  }

  /** Persistent MinHash-LSH index at `dir` (parquet, partitioned by LSH
    * band). Each kept document contributes `bands` rows
    * (id, sig, band, bh) — the same bucket keys as the batch
    * [[graft.operators.Dedup.minhashLshPairs]] path, so batch-indexed and
    * stream-indexed corpora interoperate.
    *
    * Scale notes (100 TB): the index is big (O(kept docs x bands)) but the
    * new batch is typically small, so AQE builds the hash side from the
    * batch and streams the index — no shuffle of the index, and band
    * partition pruning applies when a batch misses whole bands. The build
    * side is NOT force-hinted: a caller feeding a large backfill batch
    * gets a plan change (sort-merge or index-side build), not a driver
    * OOM — the same contract as [[StreamingVectorDedup.VectorBandIndex]]
    * and `LmScore`/`Decontaminate`. Appends are per-batch parquet writes;
    * compaction is an offline concern like any log-structured store.
    *
    * Durability contract (exactly-once): the rows live in [[store]], a
    * band-partitioned [[graft.load.IdempotentParquetSink]] — each batch id
    * writes its own directory with overwrite and commits by a
    * `_committed/<id>` marker created after the write, so a crash before
    * the marker leaves an invisible partial that the re-delivery
    * overwrites, and a committed id never appends twice.
    */
  final class LshIndex(
      val dir: String,
      val shingleN: Int = 3,
      val numHashes: Int = 64,
      val bands: Int = 16,
      val threshold: Double = 0.5
  ) extends Serializable {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    private val rowsPerBand = numHashes / bands

    /** The index rows (id, sig, band, bh). Compaction writes one file set
      * per band, sorted by bucket hash so row-group min/max stats prune
      * probes within a band.
      */
    val store = new IdempotentParquetSink(dir, Seq("band"),
      compactLayout = _.repartition(bands, col("band")).sortWithinPartitions("bh"))

    /** Dedup one micro-batch against the index AND within itself; append
      * the survivors' band rows to the index; return the surviving rows of
      * `batch` (original columns).
      *
      * Within-batch semantics are greedy keep-lowest-id: a doc survives iff
      * no verified near-dup with a smaller id exists in the same batch and
      * no verified near-dup exists in the index — the incremental analogue
      * of keeping the first-seen member of each near-dup chain.
      *
      * RETRY SAFETY (foreachBatch is at-least-once): index matches with
      * the probe doc's OWN id are excluded — a re-delivered batch whose
      * rows already reached the index re-derives the SAME survivors
      * instead of dropping everything as "dup of itself".
      *
      * @param batchId `Some(id)` appends the survivors' band rows to
      *   [[store]] exactly once under that id (a re-delivered committed
      *   id skips the append); `None` probes only — for one-shot
      *   comparator passes (e.g. the q57 batch-parity gate) whose index
      *   would never be probed.
      */
    def dedupeBatch(batch: DataFrame, textCol: String, idCol: String,
                    batchId: Option[Long],
                    precomputedSig: Option[DataFrame] = None): DataFrame = {
      val spark = batch.sparkSession
      // Callers running several passes over overlapping corpora (e.g. the
      // q57 parity gate) can precompute + cache one (id, sig) frame and
      // slice it per batch — the sketch kernel is the map-side hot spot.
      val sig = precomputedSig.getOrElse(
        Dedup.minhashSignaturesGen(batch, idCol, textCol, shingleN, numHashes))
      // MEMORY_ONLY: banded is batch-sized and its recompute (map-side
      // sketch kernel) is cheaper than spilling it, so eviction-recompute
      // beats disk-backed caching here.
      val banded = Dedup.bandBuckets(sig, bands, rowsPerBand)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)

      // vs index: probe the big index with the (typically small) batch.
      // No broadcast hint — AQE picks the build side from runtime sizes,
      // so a large backfill batch degrades to a plan change, not an OOM.
      val indexed = store.read(spark)
      val dupVsIndex: DataFrame =
        if (indexed.columns.nonEmpty) {
          indexed.as("ix")
            .join(banded.as("nw"),
              col("ix.band") === col("nw.band") && col("ix.bh") === col("nw.bh") &&
                col("ix.id") =!= col("nw.id"))
            .where(Dedup.estJaccard(col("ix.sig"), col("nw.sig"), numHashes) >= threshold)
            .select(col("nw.id").as("id")).distinct()
        } else spark.emptyDataFrame.withColumn("id", lit(0L)).where(lit(false))

      // within batch: greedy — any verified pair (a < b) drops b.
      val a = banded.as("a"); val b = banded.as("b")
      val dupInBatch = a.join(b,
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
            col("a.id") < col("b.id"))
        .where(Dedup.estJaccard(col("a.sig"), col("b.sig"), numHashes) >= threshold)
        .select(col("b.id").as("id")).distinct()

      // The drop-set (dup ids) is the small product of the batch — one job
      // materializes it with lineage truncated (an eager cut), so the
      // index append and the survivor output each cost one cheap anti-join
      // instead of recomputing the index probe.
      val dropIds = dupVsIndex.union(dupInBatch).distinct()
        .transform(Stages.cut)

      // Append survivors' band rows (one file per touched band per batch:
      // the batch-sized repartition is cheap, and probe-side listings and
      // the compaction backlog shrink).
      batchId.foreach(id => store.append(
        banded.join(dropIds, Seq("id"), "left_anti").repartition(col("band")), id))
      banded.unpersist()

      // Survivors keep their original columns. Docs that produced no
      // signature (nothing to shingle) can't be near-dup-verified — they
      // pass through unindexed rather than being silently dropped.
      batch.join(dropIds.withColumnRenamed("id", "__did"),
        col(s"`$idCol`") === col("__did"), "left_anti")
    }

    /** Maintenance: fold every committed batch into one compaction
      * generation of [[store]]. `force` keeps the rule that a compact
      * always rewrites the layout, even over a single batch.
      */
    def compact(spark: SparkSession): Unit = store.compact(spark, force = true)
  }

  /** Wire a document stream through an [[LshIndex]]: drain available input
    * with `Trigger.AvailableNow`, dedup each micro-batch incrementally, and
    * hand survivors to `onSurvivors` (typically a corpus-sink append).
    * Checkpointing makes re-runs skip already-processed files — together
    * with the idempotent greedy semantics this is exactly-once corpus
    * building.
    *
    * `compactEvery > 0` schedules [[LshIndex.compact]] after every
    * `compactEvery`-th batch id (the [[graft.operators.Bm25.DiskIndex
    * .streamingWriter]] convention: id-keyed, so restarts never drift
    * the schedule; 0 = append-only) — a long-lived registry otherwise
    * accumulates one file set per touched band per micro-batch.
    * Running INSIDE foreachBatch satisfies the sink's offline-compaction
    * contract by construction: Structured Streaming serializes
    * micro-batches, so a compaction never races an append, and the
    * `_committed` markers it never deletes keep a re-delivered batch id
    * skipping afterwards.
    */
  def nearDupAvailableNow(
      docs: DataFrame,
      index: LshIndex,
      textCol: String,
      idCol: String,
      checkpoint: String,
      onSurvivors: (DataFrame, Long) => Unit,
      compactEvery: Int = 0
  ): StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onSurvivors(index.dedupeBatch(batch, textCol, idCol, Some(batchId)), batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          index.compact(batch.sparkSession)
      }
      .start()
  }
}
