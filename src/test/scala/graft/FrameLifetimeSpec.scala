package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The DataFrame contract of a registered query: its frame answers any
  * number of actions, and a retry after a failed action, until the next
  * registered build opens; that build then frees everything the first
  * one persisted and checkpointed at once, and nothing made before it.
  * One query per pipeline family, at sf0.001.
  */
class FrameLifetimeSpec extends SparkSuite {

  private def persistentIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Fails inside a task of any action over the frame it is applied to. */
  private val boom = udf { (n: Long) =>
    if (n >= 0) throw new IllegalStateException("injected failure"); n
  }.asNondeterministic()

  private def contract(name: String): Unit = {
    // made before the build opened: no build may free it
    val pre = spark.range(0, 37).toDF("x").localCheckpoint(true)
    val before = persistentIds
    val df = SparkEntry.queries(name)(spark, sf("sf0.001"))
    val n = df.count()
    assert(df.count() === n, name)
    assert(df.collect().length.toLong === n, name)
    val failed = intercept[Exception] {
      df.agg(count(lit(1)).as("n")).select(boom(col("n"))).collect()
    }
    assert(failed.toString.contains("injected failure") ||
      Option(failed.getCause).exists(_.toString.contains("injected failure")), failed)
    assert(df.count() === n, s"$name: retry after a failed action")
    // what the build persisted (checkpoints and SQL-cache buffers), and
    // the cached frames its plan reads
    val held = persistentIds -- before
    assert(held.nonEmpty, s"$name persisted and checkpointed nothing")
    val caches = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation if r.cacheBuilder.isCachedColumnBuffersLoaded =>
        r.cacheBuilder.cachedColumnBuffers
    }
    SparkEntry.queries("q03_join_chain")(spark, sf("sf0.001"))
    // no sleep, no eventually: the next build frees synchronously
    val left = held.intersect(persistentIds)
    assert(left.isEmpty, s"$name: the next build left ${left.size} of ${held.size} RDDs")
    caches.foreach(rdd =>
      assert(rdd.getStorageLevel === StorageLevel.NONE, s"$name: cached frame $rdd"))
    assert(pre.count() === 37L)
  }

  Seq(
    "q82_release_pipeline",      // ReleasePipeline.run
    "q87_incremental_release",   // ReleasePipeline.appendBatch
    "q52_corpus_pipeline",       // CorpusPipeline, gated
    "q158_ccnet_release",        // CCNet
    "q128_crawl_release",        // crawl
    "q60_jaccard_prefix",        // prefix-filtered Dedup similarity
    "q129_bm25_topk"             // BM25
  ).foreach { name =>
    test(s"$name: repeated actions and a retry answer until the next build, which frees it all") {
      contract(name)
    }
  }

  private def twice(df: DataFrame): Long = {
    val n = df.count()
    assert(df.count() === n)
    n
  }

  test("release run and append: lazy members and stats read after the consuming action, until the next build") {
    import graft.corpus.ReleasePipeline
    val docs = Tables(spark, sf("sf0.001"), "documents").where(col("text").isNotNull)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val cand = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
    val before = persistentIds
    val res = graft.core.Frames.owned(spark)(ReleasePipeline.run(cand, bench))
    val held = persistentIds -- before
    val n = twice(res.corpus)
    assert(res.stats.afterLmFloor === n)
    assert(res.stats.input >= res.stats.afterDedup)
    assert(twice(res.packed) === n)

    // the q87 shape: a frozen prior built straight from the table
    val relDocs = cand.where(pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), graft.operators.Pii.redact(col("text")).as("text"))
    val prior = ReleasePipeline.PriorRelease(relDocs,
      ReleasePipeline.registryOf(relDocs, "text", "doc_id", 3))
    val app = graft.core.Frames.owned(spark)(ReleasePipeline.appendBatch(
      prior, cand.where(pmod(col("doc_id"), lit(7)) =!= 0), bench))
    assert(held.intersect(persistentIds).isEmpty, "the append's build frees the run's")
    val kept = twice(app.newKept)
    assert(app.stats.afterLmFloor === kept)
    assert(twice(app.dedupSurvivors) === app.stats.afterNearDup)
    assert(app.packedNew.count() >= 0L)
  }
}
