package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.{CrawlPipeline, ReleasePipeline}
import graft.operators.Domains
import graft.sources.Warc
import graft.streaming.{StreamingCrawl, StreamingReleaseAppend}

/** End-to-end streaming crawl drain: gzipped WARC files land in a
  * directory; [[StreamingCrawl.run]] drains them (AvailableNow, one
  * file per micro-batch) through parse → HTTP split → HTML→text →
  * blocklist → per-host arrival cap → release append — and the result
  * must equal the BATCH recomposition: the same per-file web stages run
  * through the batch kernel, the cap simulated cumulatively in
  * id-ordered arrival order, and the explicit `appendBatch` chain over
  * the surviving docs. Restart-safety: a second drain from the same
  * checkpoint sees no new files and changes nothing.
  */
class StreamingCrawlSpec extends SparkSuite {
  import spark.implicits._

  private def regSet(df: DataFrame) =
    df.select(col("id"), xxhash64(col("sig").cast("string")), col("fp"))
      .as[(Long, Long, String)].collect().toSet
  private def docSet(df: DataFrame) =
    df.select("doc_id", "text").as[(Long, String)].collect().toSet

  private def withRocks[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally if (prev.nonEmpty)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("streamed crawl drain == batch web stages + appendBatch chain; restart no-op") {
    withRocks {
      val docs0 = Tables(spark, sf("sf0.001"), "documents")
        .where(col("text").isNotNull)
      val benchmark = docs0.where(pmod(col("doc_id"), lit(10)) === 0)
      val base = docs0.where(pmod(col("doc_id"), lit(4)) === 0)
      val crawlRows = docs0.where(pmod(col("doc_id"), lit(4)) =!= 0)
        .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
      val cfg = ReleasePipeline.Config(packCapacity = 256L)
      val rel = ReleasePipeline.run(base, benchmark, cfg)

      val blocked = Seq("site1.example1.com")
      val cap = 3
      def hostOf(id: Long) = s"site${id % 7}.example${id % 2}.com"

      // Per doc: a full HTML page wrapping the escaped text (the q128
      // shape), a UNIQUE URL (no canonical collisions — URL dedup is a
      // documented non-stage of the drain), one gzip member per record;
      // two files split by doc_id parity.
      def fileBytes(docs: Seq[(Long, String)]): Array[Byte] = {
        val out = new java.io.ByteArrayOutputStream()
        docs.foreach { case (id, text) =>
          val esc = text.replace("&", "&amp;")
            .replace("<", "&lt;").replace(">", "&gt;")
          val html = "<!DOCTYPE html><html><head><title>t</title></head>" +
            s"<body><p>$esc</p></body></html>"
          val payload =
            ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)
              .getBytes(UTF_8)
          out.write(Warc.gzipMember(Warc.render(
            "response", s"<urn:graft:$id>", s"http://${hostOf(id)}/p/$id",
            payload)))
        }
        out.toByteArray
      }
      val fa = crawlRows.filter(_._1 % 2 == 0)
      val fb = crawlRows.filter(_._1 % 2 == 1)
      val landing = Files.createTempDirectory("crawl_landing")
      Files.write(landing.resolve("a.warc.gz"), fileBytes(fa))
      Files.write(landing.resolve("b.warc.gz"), fileBytes(fb))

      val tmp = Files.createTempDirectory("crawl_state").toString
      val sink = new StreamingReleaseAppend(s"$tmp/state", benchmark, cfg)
      sink.initPrior(rel.toPrior)
      val docId = regexp_extract(col("record_id"), "<urn:graft:(\\d+)>", 1)
        .cast("long")
      def drain(): Unit = {
        val q = StreamingCrawl.run(spark, landing.toString + "/*.warc.gz",
          sink, s"$tmp/ckpt", docId = docId, blockedHosts = blocked,
          defaultCap = cap, maxFilesPerTrigger = 1)
        q.awaitTermination()
      }
      drain()

      // Which file was micro-batch 0? The parity split makes the doc
      // populations disjoint, so the sink's own per-batch registry dir
      // identifies it.
      val batch0Ids = spark.read.parquet(s"$tmp/state/registry/data/batch=0")
        .select("id").as[Long].collect().toSet
      assert(batch0Ids.nonEmpty)
      val (first, second) =
        if (batch0Ids.subsetOf(fa.map(_._1).toSet)) (fa, fb) else (fb, fa)

      // Batch recomposition: the SAME web stages through the batch
      // kernel per delivered file...
      def batchPages(docs: Seq[(Long, String)], name: String) = {
        val files = Seq((s"mem://$name", fileBytes(docs)))
          .toDF("path", "content")
        Domains.applyBlocklist(
            CrawlPipeline.pageDocs(files, docId), "host", blocked)
          .select("host", "doc_id", "text").as[(String, Long, String)]
          .collect().sortBy(_._2).toSeq
      }
      // ...then the arrival cap simulated cumulatively across batches
      // (within a batch the processor handles each host's rows in
      // ascending doc_id — id order here).
      val kept = scala.collection.mutable.Map.empty[String, Int]
      def capBatch(pages: Seq[(String, Long, String)]) = pages.filter {
        case (h, _, _) =>
          val k = kept.getOrElse(h, 0)
          if (k < cap) { kept(h) = k + 1; true } else false
      }
      val kept1 = capBatch(batchPages(first, "f1"))
      val kept2 = capBatch(batchPages(second, "f2"))
      assert(kept1.nonEmpty && kept2.nonEmpty)
      // the cap dropped something (state crossed batches) and the
      // blocklist dropped a host before the cap ever saw it
      assert(kept1.size + kept2.size <
        batchPages(first, "f1b").size + batchPages(second, "f2b").size)
      assert(!(kept1 ++ kept2).exists(_._1 == "site1.example1.com"))

      val r1 = ReleasePipeline.appendBatch(rel.toPrior,
        kept1.map { case (_, id, t) => (id, t) }.toDF("doc_id", "text"),
        benchmark, cfg)
      val r2 = ReleasePipeline.appendBatch(r1.toPrior,
        kept2.map { case (_, id, t) => (id, t) }.toDF("doc_id", "text"),
        benchmark, cfg)
      val got = sink.currentPrior(spark)
      assert(regSet(got.minhashSig) === regSet(r2.minhashSig))
      assert(docSet(got.corpus) === docSet(r2.corpus))
      // no blocked-host doc ids anywhere in the shipped corpus
      val blockedIds = crawlRows.map(_._1)
        .filter(id => hostOf(id) == "site1.example1.com").toSet
      assert(docSet(got.corpus).map(_._1).intersect(blockedIds).isEmpty)

      // restart: no new files, no state change
      drain()
      assert(docSet(sink.currentPrior(spark).corpus) === docSet(r2.corpus))
    }
  }
}
