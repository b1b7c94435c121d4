package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.sources.RunSummarySource

/** Incremental (streaming) ingestion mode.
  *
  * The reference has no streaming engine — its incremental story is Dagster
  * daily partitions over a growing directory plus idempotency machinery
  * (SURVEY.md §2.10). Structured Streaming generalizes that: the same
  * declarative transforms run via `readStream` + `Trigger.AvailableNow`,
  * giving exactly-once incremental batches with checkpointed progress —
  * file-arrival tracking replaces the partition-key bookkeeping.
  *
  * Event-stream analytics (windowed aggregation with watermarking) is also
  * exposed — the scale path for continuous observation telemetry.
  */
object IncrementalRunner {

  /** Incremental run-summary ingestion: each micro-batch of newly arrived
    * `*.json` files is parsed by [[RunSummarySource.parse]], the batch
    * source's own parse, so `onBatch` receives the batch schema (parsed
    * frame for [[graft.meertrap.ObservationTransform.flatten]]) and the
    * batch quarantine. Duplicates collapse within a micro-batch; across
    * batches, content dedup is the caller's (e.g. a silver step).
    *
    * `cleanSource`/archiving and `maxFilesPerTrigger` tuning are the 100 TB
    * knobs; `Trigger.AvailableNow` drains the backlog then stops (the
    * incremental-batch pattern).
    */
  def runSummaries(
      spark: SparkSession,
      dir: String,
      checkpoint: String,
      onBatch: (RunSummarySource.Result, Long) => Unit,
      maxFilesPerTrigger: Int = 0
  ): StreamingQuery = {
    val reader = spark.readStream
      .schema(new org.apache.spark.sql.types.StructType()
        .add("value", org.apache.spark.sql.types.StringType))
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*.json")
      .option("wholetext", "true")
    val sized =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader

    sized.text(dir)
      .select(col("_metadata.file_path").as("path"), col("value").as("json"))
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (files: DataFrame, id: Long) => onBatch(RunSummarySource.parse(files), id) }
      .start()
  }

  /** Stream-stream INTERVAL join with watermark-bounded state: attach to
    * each candidate event the observation-window event that covers it
    * within `toleranceSeconds` — the streaming form of the reference's
    * batch interval lookup (SURVEY §2.2 P5 / §2.3 J10: candidate UTC
    * inside [t_min, t_max] with slack).
    *
    * Scale contract: both sides carry watermarks and the join condition
    * bounds event-time distance, so each side's buffered state is only
    * `watermark + tolerance` wide — Spark drops older rows from the state
    * store. An unbounded-condition stream join would grow state forever;
    * this is the shape that runs indefinitely.
    *
    * @param left  streaming frame with `leftTs` (event time)
    * @param right streaming frame with `rightTs` (event time)
    * @param keys  equi-join key column names present on both sides
    */
  def intervalJoin(
      left: DataFrame, leftTs: String,
      right: DataFrame, rightTs: String,
      keys: Seq[String],
      toleranceSeconds: Long,
      watermark: String = "10 minutes"
  ): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    val cond = keys.map(k => l(k) === r(k)).reduceOption(_ && _)
      .map(_ && r(rightTs) >= l(leftTs) - expr(s"INTERVAL $toleranceSeconds SECONDS")
             && r(rightTs) <= l(leftTs) + expr(s"INTERVAL $toleranceSeconds SECONDS"))
      .getOrElse(
        r(rightTs) >= l(leftTs) - expr(s"INTERVAL $toleranceSeconds SECONDS")
          && r(rightTs) <= l(leftTs) + expr(s"INTERVAL $toleranceSeconds SECONDS"))
    l.join(r, cond)
  }

  /** Watermarked sliding-window aggregation over an event stream — the
    * generic telemetry rollup (count + sum(value) per window x event_type).
    */
  def windowedEventCounts(
      events: DataFrame,
      windowDur: String = "5 minutes",
      slideDur: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slideDur), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"), col("n"),
        col("sum_value"))
}
