package graft

import org.apache.spark.sql.functions._
import graft.corpus.ReleasePipeline
import graft.operators.Dedup

/** Incremental release builds ([[ReleasePipeline.appendBatch]]): the
  * frozen-prior contract, the chained == one-shot identity on the dedup
  * boundary, the registry-fingerprint exact leg, id-clash and manifest
  * guards, and checkpointed resume.
  */
class ReleaseAppendSpec extends SparkSuite {
  import spark.implicits._

  private def priorOf(docs: org.apache.spark.sql.DataFrame) = {
    val rel = docs.select(col("doc_id"),
      graft.operators.Pii.redact(col("text")).as("text"))
    ReleasePipeline.PriorRelease(rel,
      ReleasePipeline.registryOf(rel, "text", "doc_id", 3))
  }
  private def ids(df: org.apache.spark.sql.DataFrame, c: String = "doc_id") =
    df.select(col(c).cast("long")).as[Long].collect().toSet
  /** Spark jobs submitted while `f` runs (the listener bus is drained
    * on both sides, so no earlier job leaks in and none of `f`'s is
    * missed).
    */
  private def jobsDuring(f: => Any): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        n.incrementAndGet()
    }
    org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      f
      org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(l)
    n.get
  }

  test("chained appends equal one one-shot append on the dedup boundary, registry included") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val prior = priorOf(docs.where(pmod(col("doc_id"), lit(7)) === 0))
    val batch = docs.where(pmod(col("doc_id"), lit(7)) =!= 0 &&
      pmod(col("doc_id"), lit(97)) =!= 0)
    val mid = batch.agg(expr("approx_percentile(doc_id, 0.5)")).head().getLong(0)

    val r1 = ReleasePipeline.appendBatch(prior,
      batch.where(col("doc_id") <= mid), bench)
    val r2 = ReleasePipeline.appendBatch(r1.toPrior,
      batch.where(col("doc_id") > mid), bench)
    val one = ReleasePipeline.appendBatch(prior, batch, bench)

    // the identity the operator Scaladoc proves: same dedup-boundary
    // survivors regardless of batching...
    assert(ids(r1.dedupSurvivors) ++ ids(r2.dedupSurvivors)
      === ids(one.dedupSurvivors))
    // ...and the SAME registry handed to the next append
    assert(ids(r2.minhashSig, "id") === ids(one.minhashSig, "id"))
  }

  test("an append builds its post-dedup tail and packing only when read, once") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val prior = priorOf(docs.where(pmod(col("doc_id"), lit(7)) === 0))
    val batch = docs.where(pmod(col("doc_id"), lit(7)) =!= 0 &&
      pmod(col("doc_id"), lit(97)) =!= 0)
    val mid = batch.agg(expr("approx_percentile(doc_id, 0.5)")).head().getLong(0)

    val r1 = ReleasePipeline.appendBatch(prior,
      batch.where(col("doc_id") <= mid), bench)
    assert(ids(r1.dedupSurvivors).nonEmpty)
    val r2 = ReleasePipeline.appendBatch(r1.toPrior,
      batch.where(col("doc_id") > mid), bench)
    assert(ids(r2.dedupSurvivors).nonEmpty)
    // r2 was built over r1.toPrior without building r1's tail: the first
    // read of r1.newKept runs it...
    assert(jobsDuring(r1.newKept) > 0)
    // ...exactly once
    assert(jobsDuring(r1.newKept) === 0)
    // reading newKept ran no packing probe: they run on the first read
    // of packedNew, once
    assert(jobsDuring(r1.packedNew) > 0)
    assert(jobsDuring(r1.packedNew) === 0)
  }

  test("lazy append members honour the DataFrame contract: count then collect agree") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val prior = priorOf(docs.where(pmod(col("doc_id"), lit(7)) === 0))
    val batch = docs.where(pmod(col("doc_id"), lit(7)) =!= 0 &&
      pmod(col("doc_id"), lit(97)) =!= 0)
    def check(res: ReleasePipeline.AppendResult): Unit =
      Seq("newKept" -> res.newKept, "corpus" -> res.corpus,
          "packedNew" -> res.packedNew).foreach { case (name, df) =>
        val n = df.count()
        assert(n > 0L, name)
        assert(df.collect().length.toLong === n, name)
        assert(df.count() === n, name)
      }

    // tail forced right after the call
    check(ReleasePipeline.appendBatch(prior, batch, bench))
    // tail forced only after other actions ran on the built members
    val late = ReleasePipeline.appendBatch(prior, batch, bench)
    assert(late.dedupSurvivors.count() > 0L)
    assert(late.minhashSig.count() > 0L)
    check(late)
    assert(late.packedNew.count() === late.newKept.count())
  }

  test("frozen prior: corpus grows monotonically and no surviving cross near-dup remains") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val prior = priorOf(docs.where(pmod(col("doc_id"), lit(7)) === 0))
    val res = ReleasePipeline.appendBatch(prior,
      docs.where(pmod(col("doc_id"), lit(7)) =!= 0 &&
        pmod(col("doc_id"), lit(97)) =!= 0), bench)

    val priorIds = ids(prior.corpus)
    val keptIds = ids(res.newKept)
    assert(keptIds.nonEmpty && (keptIds & priorIds).isEmpty)
    assert(ids(res.corpus) === priorIds ++ keptIds)
    // survivors really are clear of the release: re-probing the
    // dedup-boundary survivors (on the scrubbed text the dedup judged —
    // despanning rewrites text afterwards) finds no qualifying pair and
    // no shared fingerprint against the registry
    val judged = docs.where(pmod(col("doc_id"), lit(7)) =!= 0)
      .select(col("doc_id"),
        graft.operators.Pii.redact(col("text")).as("text"))
      .join(res.dedupSurvivors, Seq("doc_id"))
    assert(Dedup.minhashLshPairsBetween(judged, prior.corpus,
      "text", "doc_id", 3, threshold = 0.9,
      precomputedSigRight = Some(prior.minhashSig)).isEmpty)
    assert(judged
      .select(graft.functions.TextFns.fingerprint(col("text")).as("fp"))
      .join(prior.minhashSig.select("fp"), Seq("fp"), "left_semi").isEmpty)
    // stats thread monotonically
    val s = res.stats
    assert(s.batchInput >= s.afterQuality && s.afterQuality >= s.afterExact)
    assert(s.afterExact >= s.afterNearDup && s.afterNearDup === s.afterParaDedup)
    assert(s.afterNearDup >= s.afterDespan)
    assert(s.afterDespan >= s.afterDecontaminate)
    assert(s.afterDecontaminate >= s.afterLmFloor && s.afterLmFloor > 0)
  }

  test("registry fingerprints catch normalized-equal raw-divergent dups the signatures miss") {
    // Raw token streams diverge on 5 of 14 tokens -> 3-shingle Jaccard
    // ~= 0.41, far below the 0.9 near-dup threshold; normalized text is
    // IDENTICAL, so only the registry-fp leg of the exact stage can drop
    // the batch twin. Both texts pass every Gopher rule.
    val clean = "the quick brown fox jumps over a lazy dog near the river bank today"
    val punct = "the, quick! brown? fox; jumps: over a lazy dog near the river bank today"
    val filler1 = "many other fine documents exist with plenty of distinct text in the world"
    val filler2 = "a second filler document keeps the quality battery happy with normal prose"
    val prior = priorOf(Seq((1L, punct), (2L, filler1)).toDF("doc_id", "text"))
    val res = ReleasePipeline.appendBatch(prior,
      Seq((10L, clean), (11L, filler2)).toDF("doc_id", "text"),
      Seq(Tuple1("unrelated benchmark text")).toDF("text"))
    // the twin died at the EXACT stage (so it's absent from the registry
    // contribution too), not at near-dup
    assert(res.stats.afterQuality === 2L && res.stats.afterExact === 1L)
    assert(ids(res.dedupSurvivors) === Set(11L))
    assert(ids(res.minhashSig, "id") === Set(1L, 2L, 11L))
    // sanity: the signatures alone would NOT have caught it
    val est = Dedup.minhashLshPairsBetween(
      Seq((10L, clean)).toDF("doc_id", "text"),
      Seq((1L, punct)).toDF("doc_id", "text"),
      "text", "doc_id", 3, threshold = 0.9)
    assert(est.isEmpty)
  }

  test("id clash with the registry and a registry without fingerprints both fail loudly") {
    val docs = Seq((1L, "the quick brown fox jumps over a lazy dog near the river bank today"))
      .toDF("doc_id", "text")
    val bench = Seq(Tuple1("unrelated benchmark text")).toDF("text")
    val prior = priorOf(docs)
    val eClash = intercept[IllegalArgumentException] {
      ReleasePipeline.appendBatch(prior, docs, bench)
    }
    assert(eClash.getMessage.contains("globally unique"))
    val eShape = intercept[IllegalArgumentException] {
      ReleasePipeline.appendBatch(
        ReleasePipeline.PriorRelease(prior.corpus,
          prior.minhashSig.drop("fp")),
        docs.select((col("doc_id") + 100L).as("doc_id"), col("text")), bench)
    }
    assert(eShape.getMessage.contains("registryOf"))
  }

  test("checkpointed append resumes to identical output and refuses a different prior") {
    val docs = Tables(spark, sf("sf0.001"), "documents")
      .where(col("text").isNotNull)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val prior = priorOf(docs.where(pmod(col("doc_id"), lit(7)) === 0))
    val batch = docs.where(pmod(col("doc_id"), lit(7)) =!= 0 &&
      pmod(col("doc_id"), lit(97)) =!= 0)
    val dir = java.nio.file.Files.createTempDirectory("rel_append_ckpt").toString

    val first = ReleasePipeline.appendBatch(prior, batch, bench,
      checkpointDir = Some(dir))
    val stages = new java.io.File(dir).listFiles().map(_.getName).toSet
    assert(Set("a1_scrub", "a2_quality", "a3_exact", "a4_dedup", "a5_despan",
      "a6_decontaminate", "a7_lmfloor").subsetOf(stages))
    val resumed = ReleasePipeline.appendBatch(prior, batch, bench,
      checkpointDir = Some(dir))
    assert(ids(resumed.newKept) === ids(first.newKept))
    assert(resumed.stats === first.stats)

    // a different prior registry against the same dir: the manifest's
    // priorRegistry fingerprint must refuse the resume
    val shrunk = ReleasePipeline.PriorRelease(prior.corpus,
      prior.minhashSig.orderBy("id").limit(3))
    val e = intercept[IllegalStateException] {
      ReleasePipeline.appendBatch(shrunk, batch, bench,
        checkpointDir = Some(dir))
    }
    assert(e.getMessage.contains("DIFFERENT run"))
  }
}
