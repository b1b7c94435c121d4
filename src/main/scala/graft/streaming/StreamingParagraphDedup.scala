package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Stages
import graft.functions.TextFns
import graft.load.IdempotentParquetSink

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
  * winner is NOT itself.
  *
  * Durability (exactly-once, the family-wide contract): the rows live
  * in [[ParagraphRegistry.store]], a band-partitioned
  * [[graft.load.IdempotentParquetSink]] — each batch id writes its own
  * directory with overwrite and commits by a `_committed/<id>` marker
  * created after the write, so a crash before the marker leaves an
  * invisible partial that the re-delivery overwrites, and a committed
  * id never appends twice.
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

    /** The registry rows (id, band, wid, widx). Compaction writes one
      * file set per band, sorted by key.
      */
    val store = new IdempotentParquetSink(dir, Seq("band"),
      compactLayout = _.repartition(buckets, col("band")).sortWithinPartitions("id"))

    /** Dedup one batch against the registry AND within itself; append
      * the new winners; return the surviving rows of `batch` (original
      * columns, text re-assembled from surviving paragraphs in
      * positional order). A re-delivered committed batch skips the
      * append and re-derives identical output (the registered winners
      * are its own). `idCol` must be non-null and long-castable (see
      * [[winnerId]]) — violations raise in-plan rather than silently
      * disabling the dedup.
      *
      * @param batchId `Some(id)` appends the new winners to [[store]]
      *   exactly once under that id; `None` probes only.
      */
    def dedupeBatch(batch: DataFrame, textCol: String, idCol: String,
                    shardCol: String, batchId: Option[Long]): DataFrame = {
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
      val registered = store.read(spark)
      val fresh =
        if (registered.columns.isEmpty) paras
        else {
          val bands = paras.select("__band").distinct()
            .collect().map(_.getLong(0))
          val reg = registered
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

      batchId.foreach(id => store.append(
        winners.select(col("__key").as("id"), col("__band").as("band"),
            col("__wid").as("wid"), col("para_idx").cast("long").as("widx"))
          .repartition(col("band")), id))
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

    /** Maintenance: fold every committed batch into one compaction
      * generation of [[store]] (forced: a compact always rewrites the
      * layout, even over a single batch).
      */
    def compact(spark: SparkSession): Unit = store.compact(spark, force = true)
  }

  /** Drain available input through a [[ParagraphRegistry]] — the
    * paragraph twin of [[StreamingDedup.nearDupAvailableNow]]:
    * file-source checkpointing plus the store's `_committed` markers
    * make the drain exactly-once under crash re-delivery;
    * `compactEvery > 0` schedules maintenance after every
    * `compactEvery`-th batch id (id-keyed, restart-stable, single-writer
    * inside foreachBatch).
    */
  def dedupAvailableNow(
      docs: DataFrame,
      registry: ParagraphRegistry,
      textCol: String,
      idCol: String,
      shardCol: String,
      checkpoint: String,
      onSurvivors: (DataFrame, Long) => Unit,
      compactEvery: Int = 0
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
    docs.writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onSurvivors(registry.dedupeBatch(batch, textCol, idCol, shardCol,
          Some(batchId)), batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
          registry.compact(batch.sparkSession)
      }
      .start()
  }
}
