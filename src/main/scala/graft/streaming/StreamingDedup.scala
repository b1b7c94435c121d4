package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.core.Stages
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
    * Durability contract (at-least-once): the `_batches/<id>` marker is
    * created AFTER the survivors' append commits, so a crash between the
    * two makes re-delivery append the batch's band rows a second time.
    * This window is deliberate — the reverse order (marker first) would
    * SKIP the append on re-delivery and lose index rows. Duplicate index
    * rows never change dedup output (candidate drops are verified and
    * `distinct`-ed), they only bloat the index; [[LshIndex.compact]]
    * scrubs them.
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

    private def indexExists(spark: SparkSession): Boolean =
      IndexMaintenance.indexExists(spark, dir)

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
      * instead of dropping everything as "dup of itself". With `batchId`
      * set (the streaming path), the index append is also skipped when
      * that batch id already committed (`_batches/<id>` marker, invisible
      * to parquet reads), so retries re-deliver identical output without
      * re-appending.
      */
    /** @param appendToIndex false runs the SAME dedup semantics but skips
      *   the index append — for one-shot comparator passes (e.g. the q57
      *   batch-parity gate) whose index would never be probed, the
      *   partitioned parquet write is pure waste.
      */
    def dedupeBatch(batch: DataFrame, textCol: String, idCol: String,
                    batchId: Option[Long] = None,
                    precomputedSig: Option[DataFrame] = None,
                    appendToIndex: Boolean = true): DataFrame = {
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
      val dupVsIndex: DataFrame =
        if (indexExists(spark)) {
          spark.read.parquet(dir).as("ix")
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

      // Append survivors' band rows (partitioned by band for pruning) —
      // unless this batch id already committed (idempotent re-delivery).
      if (appendToIndex) {
        val fsys = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val markerPath = batchId.map(id => new org.apache.hadoop.fs.Path(s"$dir/_batches/$id"))
        if (!markerPath.exists(fsys.exists)) {
          val survivors = banded.join(dropIds, Seq("id"), "left_anti")
          // A batch whose rows were all filtered (nothing to shingle) or
          // all dropped must not append: an empty append on a fresh dir
          // leaves a data-less `_SUCCESS`-only index the next batch
          // cannot read. The marker is still written — the batch IS
          // processed, re-delivery has nothing to redo.
          if (!survivors.isEmpty) {
            // one file per touched band per batch (vs shuffle-partitions x
            // bands): the batch-sized repartition is cheap, and probe-side
            // file listings + the compaction backlog shrink 30x
            survivors.repartition(col("band"))
              .write.mode("append").partitionBy("band").parquet(dir)
          }
          // Marker AFTER the data commits: see the durability contract in
          // the class Scaladoc (a crash in between re-appends once;
          // duplicates are output-invisible and compact() scrubs them).
          markerPath.foreach { m => fsys.mkdirs(m.getParent); fsys.create(m, true).close() }
        }
      }
      banded.unpersist()

      // Survivors keep their original columns. Docs that produced no
      // signature (nothing to shingle) can't be near-dup-verified — they
      // pass through unindexed rather than being silently dropped.
      batch.join(dropIds.withColumnRenamed("id", "__did"),
        col(s"`$idCol`") === col("__did"), "left_anti")
    }

    /** Maintenance: [[IndexMaintenance.compact]] (shared with the vector
      * index) — rewrite each band partition as `filesPerBand` files
      * sorted by bucket hash `bh`, scrub append/marker crash-window
      * duplicates, recover from a previously crashed compact.
      */
    def compact(spark: SparkSession, filesPerBand: Int = 1): Unit =
      IndexMaintenance.compact(spark, dir, bands, filesPerBand, "bh")
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
    * Running INSIDE foreachBatch satisfies the maintenance contract's
    * "batches paused" single-writer rule by construction: Structured
    * Streaming serializes micro-batches, so the swap never races an
    * append, and the batch-id ledger riding through the swap keeps a
    * re-delivered batch id skipping afterwards. A compact re-run after
    * a crash-redelivery is idempotent (recover + rewrite).
    */
  def nearDupAvailableNow(
      docs: DataFrame,
      index: LshIndex,
      textCol: String,
      idCol: String,
      checkpoint: String,
      onSurvivors: (DataFrame, Long) => Unit,
      compactEvery: Int = 0,
      filesPerBand: Int = 1
  ): StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    docs.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onSurvivors(index.dedupeBatch(batch, textCol, idCol, Some(batchId)), batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          index.compact(batch.sparkSession, filesPerBand)
      }
      .start()
  }
}
