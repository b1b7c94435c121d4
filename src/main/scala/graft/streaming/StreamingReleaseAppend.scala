package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.corpus.ReleasePipeline
import graft.load.IdempotentParquetSink

/** STREAMING release growth: [[ReleasePipeline.appendBatch]]'s
  * frozen-prior registry contract wired into a `foreachBatch` /
  * `Trigger.AvailableNow` twin — the reference's daily-partition
  * incremental assets (`/root/reference/src/pipelines/meertrap/
  * assets.py:20-33`) re-expressed as Structured Streaming over a
  * document corpus.
  *
  * Durable state is two [[IdempotentParquetSink]] stores under `root`:
  *
  *   - `corpus/`   — per-batch `newKept` (doc_id, text) appends;
  *   - `registry/` — per-batch `(id, sig, fp)` registry contributions.
  *
  * Each micro-batch runs one `appendBatch` whose prior is the CURRENT
  * store contents (initial release ∪ every earlier committed batch), so
  * N streamed batches produce exactly the N-step `appendBatch` chain —
  * and because the registry is metadata-sized, per-batch cost never
  * grows with the corpus text (appendBatch's scale contract).
  *
  * EXACTLY-ONCE: `foreachBatch` re-delivers batch ids after a crash.
  * The registry store commits LAST, so its marker is the batch's commit
  * record; `processBatch` skips fully-committed ids outright. Every
  * crash window recovers cleanly on re-delivery:
  *
  *   - crash before the corpus commit: nothing visible; the re-run
  *     recomputes from the same prior (deterministic operators, same
  *     registry state) and writes both stores;
  *   - crash between the corpus commit and the registry commit: the
  *     re-run's prior REGISTRY is unchanged (registry uncommitted), so
  *     the recompute reproduces the identical `newKept`; the corpus
  *     sink skips its already-committed dir and only the registry
  *     write proceeds. The recompute never reads the prior corpus
  *     TEXT (sig-only contract), so the half-committed corpus row
  *     cannot perturb it.
  *
  * Batch-id idempotency is valid within one streaming-checkpoint
  * lineage (the sink's contract); a fresh checkpoint over the same
  * input files must use a fresh `root`.
  */
final class StreamingReleaseAppend(
    val root: String,
    benchmark: DataFrame,
    cfg: ReleasePipeline.Config = ReleasePipeline.Config())
  extends Serializable {

  val corpusStore = new IdempotentParquetSink(s"$root/corpus")
  val registryStore = new IdempotentParquetSink(s"$root/registry")

  /** Reserved batch id for the initial (pre-stream) release. */
  val priorBatchId: Long = -1L

  /** Record the shipped release the stream grows from. Idempotent for
    * the SAME release; re-initialization with a DIFFERENT prior refuses
    * loudly (the manifest convention) — silently keeping the old state
    * would splice the new stream's dedup verdicts onto another
    * release's registry. Identity = count + xor'd id hash of the
    * registry (the appendManifest fingerprint: metadata-sized at any
    * release size).
    */
  def initPrior(prior: ReleasePipeline.PriorRelease): Unit = {
    val spark = prior.minhashSig.sparkSession
    val fp = {
      val r = prior.minhashSig.agg(
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)),
        org.apache.spark.sql.functions.coalesce(
          org.apache.spark.sql.functions.expr("bit_xor(xxhash64(id))"),
          org.apache.spark.sql.functions.lit(0L))).head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fpPath = new org.apache.hadoop.fs.Path(root, "_prior_fingerprint")
    // The fingerprint commits FIRST — it is the init's identity record,
    // and the batch -1 appends run only under a matching fingerprint.
    // Were it written last, a crash between the corpus append and the
    // fingerprint commit would leave committed prior-A data with no
    // identity on disk; a later init with prior B would see no
    // fingerprint, the idempotent sink would skip the already-committed
    // A corpus, and B's registry would land next to it — exactly the
    // cross-release splice this guard exists to refuse. With fp-first,
    // every crash window re-inits cleanly under the SAME prior (the
    // appends below are idempotent per batch id) and refuses a
    // different one.
    if (fs.exists(fpPath)) {
      val in = fs.open(fpPath)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
      if (found != fp) throw new IllegalStateException(
        s"StreamingReleaseAppend at $root was initialized from a DIFFERENT " +
          s"prior release (recorded $found, this call $fp) — appending a new " +
          "stream onto another release's registry would splice dedup " +
          "verdicts across releases. Use a fresh root.")
    } else {
      if (corpusStore.committed(spark, priorBatchId) ||
          registryStore.committed(spark, priorBatchId))
        throw new IllegalStateException(
          s"StreamingReleaseAppend at $root holds committed prior data but " +
            "no _prior_fingerprint — an init from a pre-fingerprint layout " +
            "or a tampered root; its prior identity cannot be verified. " +
            "Use a fresh root.")
      val tmp = new org.apache.hadoop.fs.Path(root, "_prior_fingerprint.tmp")
      val out = fs.create(tmp, true)
      try out.write(fp.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, fpPath) && !fs.exists(fpPath))
        throw new java.io.IOException(s"could not commit $fpPath")
    }
    // Reached only under a present-and-matching fingerprint. Idempotent:
    // committed stores skip, so a crash anywhere between the fingerprint
    // commit and here is healed by re-initializing with the same prior.
    corpusStore.append(
      prior.corpus.select("doc_id", "text"), priorBatchId)
    registryStore.append(
      prior.minhashSig.select("id", "sig", "fp"), priorBatchId)
  }

  /** The release as of all committed batches — what the next batch
    * appends against, and what a reader consumes.
    */
  def currentPrior(spark: SparkSession): ReleasePipeline.PriorRelease =
    ReleasePipeline.PriorRelease(
      corpusStore.read(spark), registryStore.read(spark))

  /** One micro-batch: append `batch` against the current store state.
    * The micro-batch is one build ([[graft.core.Frames.owned]]): opening
    * it frees the previous batch's persists and checkpoints, so a long
    * stream holds at most one batch's blocks.
    * @return true if the batch was processed, false if its id had
    * already committed (re-delivery).
    */
  def processBatch(batch: DataFrame, batchId: Long): Boolean = {
    val spark = batch.sparkSession
    graft.core.Frames.owned(spark) {
      if (registryStore.committed(spark, batchId)) false
      else {
        val res = ReleasePipeline.appendBatch(
          currentPrior(spark), batch, benchmark, cfg)
        corpusStore.append(res.newKept.select("doc_id", "text"), batchId)
        registryStore.append(res.registryNew.select("id", "sig", "fp"), batchId)
        true
      }
    }
  }

  /** Drain a parquet document directory as an AvailableNow stream of
    * appends — the incremental-ingest entry point. `maxFilesPerTrigger`
    * bounds batch size (1 = one file per append).
    */
  def run(spark: SparkSession, inputDir: String, schema: StructType,
          checkpoint: String, maxFilesPerTrigger: Int = 1): StreamingQuery =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) => processBatch(b, id); () }
      .start()
}
