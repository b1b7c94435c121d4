package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Stages
import graft.functions.TextFns

/** Incremental CCNet PARAGRAPH-HASH dedup against a persistent
  * fingerprint registry — the streaming twin of
  * [[graft.operators.Paragraphs.dedupFirstByShard]] (the q163/q164
  * stage), completing the incremental-index family (text LSH, vector
  * bands, BM25 postings): documents arrive in batches; each batch's
  * paragraphs drop when their (shard, fingerprint) was already kept by
  * an EARLIER batch (the registry) or by a smaller (id, position) in
  * the same batch (keep-first); documents re-assemble from their
  * surviving paragraphs and all-copy documents vanish. On id-ordered
  * batches the incremental survivors equal the one-shot operator's on
  * the union — the winner per (shard, fingerprint) is the global
  * minimum either way.
  *
  * Registry layout: one row per kept paragraph —
  * `(id = shard ++ ":" ++ fingerprint, band, wid, widx)` where
  * `band = pmod(xxhash64(id), buckets)` partitions the store (a batch
  * probe prunes to its own bands via partition filters) and
  * (wid, widx) are the WINNER's doc id and paragraph position. The
  * winner coordinates make at-least-once re-delivery re-derive the
  * IDENTICAL output: a re-delivered batch finds its own winners in the
  * registry, and the probe drops a paragraph only when the registered
  * winner is NOT itself. The `(id, band)` shape matches
  * [[IndexMaintenance]]'s contract exactly (equal (id, band) implies an
  * identical row — one winner per key by the single-writer rule), so
  * compaction/scrubbing/crash recovery are the shared machinery.
  *
  * Durability: the `_batches/<id>` marker is created AFTER the append
  * commits (the family-wide at-least-once contract) — a crash between
  * the two re-appends identical rows once; duplicates are
  * output-invisible (the probe is an anti-join, set semantics) and
  * [[ParagraphRegistry.compact]] scrubs them.
  *
  * Scale shape: the probe anti-joins a batch-sized paragraph frame
  * against the band-pruned registry scan (AQE picks the build side);
  * the in-batch winner is the operator's own `min_by` aggregate
  * (map-side partial minima — no copy-set window); appends write only
  * the batch's NEW fingerprints.
  */
object StreamingParagraphDedup {

  final class ParagraphRegistry(
      val dir: String,
      val buckets: Int = 32,
      val splitRegex: String = "\\n\\s*\\n",
      val joinSep: String = "\n\n"
  ) extends Serializable {
    require(buckets > 0, "buckets must be positive")

    /** `idCol` contract: non-null and castable to long (the registry
      * stores the winner id as a long). Enforced IN-PLAN via
      * [[winnerId]] — a null or non-castable id raises instead of
      * silently nulling the probe's winner comparison, which would
      * disable registry dedup and the re-delivery identity without an
      * error (every registered duplicate would be kept: `wid === null`
      * is null, the anti-join condition never matches).
      */
    private def winnerId(idCol: String) = {
      val cast = col(s"`$idCol`").cast("long")
      when(cast.isNotNull, cast).otherwise(raise_error(concat(
        lit(s"ParagraphRegistry: id column '$idCol' must be non-null " +
          "and castable to long, got "),
        coalesce(col(s"`$idCol`").cast("string"), lit("NULL")))))
    }

    private def indexExists(spark: SparkSession): Boolean =
      IndexMaintenance.indexExists(spark, dir)

    /** Dedup one batch against the registry AND within itself; append
      * the new winners; return the surviving rows of `batch` (original
      * columns, text re-assembled from surviving paragraphs in
      * positional order). With `batchId` set, a batch whose
      * `_batches/<id>` marker exists skips the append and re-derives
      * identical output (the registered winners are its own). `idCol`
      * must be non-null and long-castable (see [[winnerId]]) — violations
      * raise in-plan rather than silently disabling the dedup.
      */
    def dedupeBatch(batch: DataFrame, textCol: String, idCol: String,
                    shardCol: String, batchId: Option[Long] = None,
                    appendToIndex: Boolean = true): DataFrame = {
      val spark = batch.sparkSession
      val carried = batch.columns.filterNot(_ == textCol)
      val paras = batch.where(col(s"`$textCol`").isNotNull)
        .select(carried.map(c => col(s"`$c`")) :+
          posexplode(split(col(s"`$textCol`"), splitRegex))
            .as(Seq("para_idx", "para")): _*)
        .where(length(trim(col("para"))) > 0)
        .withColumn("__key", concat(col(s"`$shardCol`"), lit(":"),
          TextFns.fingerprint(col("para"))))
        .withColumn("__wid", winnerId(idCol))
        .withColumn("__band", pmod(xxhash64(col("__key")), lit(buckets.toLong)))
        // batch-sized; MEMORY_ONLY — recompute (one split pass) beats spill
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)

      // vs registry: drop unless the registered winner is this very
      // paragraph (the re-delivery identity). Partition-prune the scan
      // to the batch's bands — a bounded driver read (≤ `buckets`).
      val fresh =
        if (!indexExists(spark)) paras
        else {
          val bands = paras.select("__band").distinct()
            .collect().map(_.getLong(0))
          val reg = spark.read.parquet(dir)
            .where(col("band").isin(bands: _*))
            .select(col("id").as("__rkey"), col("wid"), col("widx"))
          paras.join(reg,
              col("__key") === col("__rkey") &&
                !(col("wid") === col("__wid") &&
                  col("widx") === col("para_idx").cast("long")),
              "left_anti")
        }
      // within batch: keep-first per key — the operator's own min_by
      // winner aggregate (no copy-set window)
      val allCols = fresh.columns.map(c => col(s"`$c`"))
      val winners = fresh
        .groupBy(col("__key"), col("__band"))
        .agg(min_by(struct(allCols: _*),
          struct(col(s"`$idCol`"), col("para_idx"))).as("__w"))
        .select(col("__w.*"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)

      if (appendToIndex) {
        val fsys = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val markerPath = batchId.map(id =>
          new org.apache.hadoop.fs.Path(s"$dir/_batches/$id"))
        if (!markerPath.exists(fsys.exists)) {
          val rows = winners.select(col("__key").as("id"),
            col("__band").as("band"),
            col("__wid").as("wid"),
            col("para_idx").cast("long").as("widx"))
          // empty appends would leave a data-less dir the next probe
          // cannot read (the family-wide convention)
          if (!rows.isEmpty) {
            rows.repartition(col("band"))
              .write.mode("append").partitionBy("band").parquet(dir)
          }
          markerPath.foreach { m =>
            fsys.mkdirs(m.getParent); fsys.create(m, true).close()
          }
        }
      }
      val out = winners
        .groupBy(carried.map(c => col(s"`$c`")): _*)
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("para_idx"), col("para")))),
            x => x.getField("para")), joinSep).as(textCol))
        .select(batch.columns.map(c => col(s"`$c`")): _*)
        .transform(Stages.cut)
      paras.unpersist(); winners.unpersist()
      out
    }

    /** Maintenance: the shared [[IndexMaintenance.compact]] — rewrite
      * each band partition as `filesPerBand` files sorted by key,
      * scrubbing append/marker crash-window duplicates.
      */
    def compact(spark: SparkSession, filesPerBand: Int = 1): Unit =
      IndexMaintenance.compact(spark, dir, buckets, filesPerBand, "id")
  }

  /** Drain available input through a [[ParagraphRegistry]] — the
    * paragraph twin of [[StreamingDedup.nearDupAvailableNow]]:
    * file-source checkpointing plus the batch-id ledger make the drain
    * exactly-once under crash re-delivery; `compactEvery > 0` schedules
    * maintenance after every `compactEvery`-th batch id (id-keyed,
    * restart-stable, single-writer inside foreachBatch).
    */
  def dedupAvailableNow(
      docs: DataFrame,
      registry: ParagraphRegistry,
      textCol: String,
      idCol: String,
      shardCol: String,
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
        onSurvivors(registry.dedupeBatch(batch, textCol, idCol, shardCol,
          Some(batchId)), batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          registry.compact(batch.sparkSession, filesPerBand)
      }
      .start()
  }
}
