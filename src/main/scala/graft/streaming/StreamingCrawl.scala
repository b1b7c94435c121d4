package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

import graft.core.Stages
import graft.corpus.CrawlPipeline
import graft.operators.Domains
import graft.sources.Warc

/** STREAMING crawl drain: the arrival-order twin of
  * [[graft.corpus.CrawlPipeline]] — WARC files land continuously in a
  * directory and each micro-batch flows parse → HTTP split → HTML→text
  * → blocklist → per-domain cap → release append, reusing the batch
  * stages verbatim where they are stateless and the streaming-state
  * operators where arrival order is the semantics:
  *
  *   - [[Warc.readStream]]:       file-source checkpointing — a restart
  *                                never re-parses history;
  *   - [[CrawlPipeline.pageDocs]]: the SAME map-side parse/split/extract
  *                                 kernel as batch (stateless, so it
  *                                 composes with a streaming frame
  *                                 unchanged);
  *   - [[Domains.applyBlocklist]]: map-side InSet probe, stateless;
  *   - [[CapKeepProcessor]]:      the [[StreamingDomainCap]] cap rule
  *                                 carrying the document payload through,
  *                                 emitting only kept docs (first `cap`
  *                                 arrivals per host, intra-batch rows
  *                                 processed in ascending `doc_id` — so
  *                                 id-ordered delivery reproduces the
  *                                 batch `perDomainCap` exactly);
  *   - [[StreamingReleaseAppend]]: one `appendBatch` per micro-batch
  *                                 against the growing registry, with
  *                                 its exactly-once two-store commit.
  *
  * URL-level dedup ([[Domains.dedupByCanonicalUrl]] in the batch
  * capstone) has no per-key-bounded streaming analogue here — its state
  * is one entry per distinct canonical URL, the one unbounded key space
  * in the web family — so the drain relies on the release battery's
  * exact/near dedup against the registry to drop re-fetches whose TEXT
  * matches (the common crawl re-fetch case); re-fetches with changed
  * text are new documents to an arrival-order pipeline by definition.
  * A bounded-window variant would be [[TtlDedup]] keyed on the
  * canonical URL, composable upstream of [[cappedDocs]] by the caller.
  *
  * Reference analogue: the daily incremental partitions of
  * `/root/reference/src/pipelines/meertrap/assets.py:20-33`, here as a
  * restart-safe `Trigger.AvailableNow` drain over a landing directory.
  */
object StreamingCrawl {

  /** One extracted page: the [[CrawlPipeline.pageDocs]] row as a typed
    * stream element (key first — the cap groups by host).
    */
  final case class PageDoc(host: String, doc_id: Long, url: String, text: String)

  /** [[StreamingDomainCap.CapProcessor]]'s keep-first-cap rule, payload
    * carried through: emits the kept docs themselves instead of verdict
    * rows, so the stream composes directly into the release append.
    * Same two-long RocksDB state per host; same intra-batch ascending
    * `doc_id` processing order (micro-batch-bounded buffer). Null hosts
    * group under one key and share one cap.
    */
  class CapKeepProcessor(caps: Map[String, Int], defaultCap: Int)
      extends StatefulProcessor[String, PageDoc, PageDoc] {
    @transient private var counts: ValueState[StreamingDomainCap.Counts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getValueState[StreamingDomainCap.Counts]("counts",
        Encoders.product[StreamingDomainCap.Counts], TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[PageDoc],
                                 tv: TimerValues): Iterator[PageDoc] = {
      val cap = caps.getOrElse(key, defaultCap)
      var st = if (counts.exists()) counts.get()
               else StreamingDomainCap.Counts(0L, 0L)
      val out = rows.toArray.sortBy(_.doc_id).flatMap { d =>
        val kept = st.kept < cap
        st = StreamingDomainCap.Counts(st.seen + 1,
          if (kept) st.kept + 1 else st.kept)
        if (kept) Some(d) else None
      }
      counts.update(st)
      out.iterator
    }
  }

  /** WARC record stream → typed page docs: the batch
    * [[CrawlPipeline.pageDocsFromRecords]] kernel plus the blocklist,
    * both stateless/map-side so the streaming plan is the batch plan.
    */
  def pageDocs(records: DataFrame,
               docId: Column = xxhash64(col("record_id")),
               blockedHosts: Seq[String] = Nil): Dataset[PageDoc] = {
    val docs = Domains.applyBlocklist(
      CrawlPipeline.pageDocsFromRecords(records, docId), "host", blockedHosts)
    import docs.sparkSession.implicits._
    docs.select(col("host"), col("doc_id"), col("url"), col("text"))
      .as[PageDoc]
  }

  /** Per-host arrival cap over the doc stream — first `cap` arrivals
    * per host survive (ascending `doc_id` within each micro-batch).
    */
  def cappedDocs(docs: Dataset[PageDoc], defaultCap: Int,
                 caps: Map[String, Int] = Map.empty): Dataset[PageDoc] = {
    import docs.sparkSession.implicits._
    require(defaultCap >= 0 && caps.values.forall(_ >= 0),
      "caps must be non-negative")
    // TimeMode.None, not ProcessingTime: the cap uses no timers, and a
    // processing-time stateful operator makes EVERY trigger a potential
    // timer-firing batch — under Trigger.AvailableNow the engine then
    // keeps scheduling no-data micro-batches after the source drains
    // and the query never terminates (observed: 280+ empty batches
    // from a 2-file landing directory).
    docs.groupByKey(_.host)
      .transformWithState(new CapKeepProcessor(caps, defaultCap),
        TimeMode.None(), OutputMode.Append())
  }

  /** Drain a WARC landing directory end-to-end into `appender`'s
    * release stores: one `appendBatch` per micro-batch of capped,
    * extracted pages. AvailableNow + the file source's processed-path
    * checkpoint + the appender's batch-id idempotency make the whole
    * drain restart-safe: re-running after any crash re-delivers only
    * uncommitted work. `appender.initPrior` must have run first.
    */
  def run(spark: SparkSession, landingGlob: String,
          appender: StreamingReleaseAppend, checkpoint: String,
          docId: Column = xxhash64(col("record_id")),
          blockedHosts: Seq[String] = Nil,
          defaultCap: Int = Int.MaxValue,
          caps: Map[String, Int] = Map.empty,
          maxFilesPerTrigger: Int = 0): StreamingQuery =
    cappedDocs(pageDocs(Warc.readStream(spark, landingGlob,
        maxFilesPerTrigger), docId, blockedHosts), defaultCap, caps)
      .toDF()
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        // snapshot the micro-batch first: appendBatch takes many
        // actions, and each would otherwise re-run the whole
        // parse → extract → state-replay plan behind `b`. The micro-batch
        // is one build, snapshot included: processBatch joins it, and the
        // next micro-batch frees both.
        graft.core.Frames.owned(b.sparkSession) {
          appender.processBatch(Stages.cut(b.select("doc_id", "text")), id)
        }
        ()
      }
      .start()
}
