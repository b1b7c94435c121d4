package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.corpus.ReleasePipeline
import graft.streaming.StreamingReleaseAppend

class StreamingReleaseAppendSpec extends SparkSuite {
  import spark.implicits._

  private def regSet(df: DataFrame) =
    df.select(col("id"), xxhash64(col("sig").cast("string")), col("fp"))
      .as[(Long, Long, String)].collect().toSet
  private def docSet(df: DataFrame) =
    df.select("doc_id", "text").as[(Long, String)].collect().toSet

  test("streamed batches == appendBatch chain; re-delivery idempotent; crash windows recover") {
    val docs0 = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val benchmark = docs0.where(pmod(col("doc_id"), lit(10)) === 0)
    val base = docs0.where(pmod(col("doc_id"), lit(3)) === 0)
    val b1 = docs0.where(pmod(col("doc_id"), lit(3)) === 1)
    val b2 = docs0.where(pmod(col("doc_id"), lit(3)) === 2)
    val cfg = ReleasePipeline.Config(packCapacity = 256L)
    val rel = ReleasePipeline.run(base, benchmark, cfg)

    val root = Files.createTempDirectory("stream_rel").toString + "/state"
    val sink = new StreamingReleaseAppend(root, benchmark, cfg)
    sink.initPrior(rel.toPrior)
    sink.initPrior(rel.toPrior)          // idempotent re-init: no-op
    // a DIFFERENT prior against existing state refuses loudly — silently
    // keeping the old registry would splice dedup verdicts across releases
    val other = ReleasePipeline.PriorRelease(rel.corpus,
      rel.minhashSig.withColumn("id", col("id") + 1L))
    intercept[IllegalStateException](sink.initPrior(other))
    assert(sink.processBatch(b1, 0L))
    assert(sink.processBatch(b2, 1L))

    // the explicit two-step appendBatch chain over the same batches
    val r1 = ReleasePipeline.appendBatch(rel.toPrior, b1, benchmark, cfg)
    val r2 = ReleasePipeline.appendBatch(r1.toPrior, b2, benchmark, cfg)
    val got = sink.currentPrior(spark)
    assert(regSet(got.minhashSig) === regSet(r2.minhashSig))
    assert(docSet(got.corpus) === docSet(r2.corpus))

    // re-delivery of a committed batch id: skipped, state unchanged
    assert(!sink.processBatch(b1, 0L))
    assert(regSet(sink.currentPrior(spark).minhashSig) === regSet(r2.minhashSig))

    // crash window: corpus committed but registry not (registry commits
    // LAST) — drop the registry marker for batch 1 and re-deliver; the
    // recompute sees the ORIGINAL prior registry (batch-1 contribution
    // invisible without its marker) and restores identical state.
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(
      new org.apache.hadoop.fs.Path(s"$root/registry/_committed/1"), false))
    assert(sink.processBatch(b2, 1L))
    val recovered = sink.currentPrior(spark)
    assert(regSet(recovered.minhashSig) === regSet(r2.minhashSig))
    assert(docSet(recovered.corpus) === docSet(r2.corpus))
  }

  test("each micro-batch frees the previous one's blocks: holdings do not grow with the batch count") {
    val docs0 = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val benchmark = docs0.where(pmod(col("doc_id"), lit(10)) === 0)
    val cfg = ReleasePipeline.Config(packCapacity = 256L)
    val rel = ReleasePipeline.run(docs0.where(pmod(col("doc_id"), lit(5)) === 0),
      benchmark, cfg)
    val sink = new StreamingReleaseAppend(
      Files.createTempDirectory("stream_rel_held").toString + "/state", benchmark, cfg)
    sink.initPrior(rel.toPrior)
    // Strong references to every persisted RDD seen: only an explicit
    // unpersist can drop one, not GC-driven ContextCleaner cleanup.
    val seen = scala.collection.mutable.Map.empty[Int, org.apache.spark.rdd.RDD[_]]
    val before = spark.sparkContext.getPersistentRDDs.size
    val held = (1 to 4).map { k =>
      assert(sink.processBatch(docs0.where(pmod(col("doc_id"), lit(5)) === k), k.toLong))
      val live = spark.sparkContext.getPersistentRDDs
      seen ++= live
      live.size
    }
    // a batch keeps its own blocks until the next one opens...
    assert(held.head > before, s"before=$before held=$held")
    // ...and never more: batch N holds what batch 1 held, whatever N is
    assert(held.forall(_ <= held.head), s"before=$before held=$held")
  }

  test("AvailableNow file stream drives the sink to the equivalent chain state") {
    val docs0 = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val benchmark = docs0.where(pmod(col("doc_id"), lit(10)) === 0)
    val base = docs0.where(pmod(col("doc_id"), lit(3)) === 0)
    val b1 = docs0.where(pmod(col("doc_id"), lit(3)) === 1)
    val b2 = docs0.where(pmod(col("doc_id"), lit(3)) === 2)
    val cfg = ReleasePipeline.Config(packCapacity = 256L)
    val rel = ReleasePipeline.run(base, benchmark, cfg)

    val tmp = Files.createTempDirectory("stream_rel_q").toString
    // one parquet file per batch in the streamed input dir
    def shipFile(df: DataFrame, name: String): Unit = {
      val stage = s"$tmp/_stage_$name"
      df.select("doc_id", "text").coalesce(1).write.parquet(stage)
      val fs = new org.apache.hadoop.fs.Path(tmp)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(stage))
        .map(_.getPath).find(_.getName.startsWith("part-")).get
      fs.rename(part, new org.apache.hadoop.fs.Path(s"$tmp/in/$name.parquet"))
    }
    shipFile(b1, "b1"); shipFile(b2, "b2")

    val sink = new StreamingReleaseAppend(s"$tmp/state", benchmark, cfg)
    sink.initPrior(rel.toPrior)
    val schema = docs0.select("doc_id", "text").schema
    val q = sink.run(spark, s"$tmp/in", schema, s"$tmp/ckpt",
      maxFilesPerTrigger = 1)
    q.awaitTermination()

    // two micro-batches ran; build the matching chain in the ORDER the
    // file source actually delivered them (read from the sink's own
    // per-batch registry dirs — populations are disjoint, so batch 0's
    // ids identify the file)
    val batch0Ids = spark.read.parquet(s"$tmp/state/registry/data/batch=0")
      .select("id").as[Long].collect().toSet
    val b1Ids = b1.select("doc_id").as[Long].collect().toSet
    val (first, second) =
      if (batch0Ids.subsetOf(b1Ids)) (b1, b2) else (b2, b1)
    val r1 = ReleasePipeline.appendBatch(rel.toPrior, first, benchmark, cfg)
    val r2 = ReleasePipeline.appendBatch(r1.toPrior, second, benchmark, cfg)
    val got = sink.currentPrior(spark)
    assert(regSet(got.minhashSig) === regSet(r2.minhashSig))
    assert(docSet(got.corpus) === docSet(r2.corpus))

    // draining again from the same checkpoint: no new input, no change
    val q2 = sink.run(spark, s"$tmp/in", schema, s"$tmp/ckpt",
      maxFilesPerTrigger = 1)
    q2.awaitTermination()
    assert(docSet(sink.currentPrior(spark).corpus) === docSet(r2.corpus))
  }
}
