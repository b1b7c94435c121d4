package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingVectorDedup.VectorBandIndex

/** Incremental EMBEDDING near-dup against the persistent band index —
  * the vector analogue of the text LshIndex, same contracts: planted
  * near-dups drop across batches, incremental == one-shot on id-ordered
  * batches, re-delivery is idempotent.
  */
class StreamingVectorDedupSpec extends SparkSuite {
  import spark.implicits._

  // 30 well-separated base vectors (seeded Gaussian — random 16-dim
  // cosines concentrate near 0) + 3 planted near-copies (tiny
  // perturbation, cosine > 0.99) with ids above every base id.
  private def corpus = {
    val base = (0 until 30).map { i =>
      val rnd = new scala.util.Random(42 + i)
      val v = Array.fill(16)(rnd.nextGaussian().toFloat)
      (i.toLong, v)
    }
    val copies = Seq(0, 7, 19).zipWithIndex.map { case (src, j) =>
      val v = base(src)._2.zipWithIndex
        .map { case (x, d) => x + (if (d == 0) 1e-4f else 0f) }
      (100L + j, v)
    }
    (base ++ copies).toDF("vec_id", "embedding")
  }

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_vix").toString + "/ix"

  test("planted near-copies drop across batches; originals survive") {
    val ix = new VectorBandIndex(freshDir(), bandBits = 8, bands = 16, threshold = 0.9)
    val docs = corpus
    val s1 = ix.dedupeBatch(docs.where(col("vec_id") < 50), "embedding", "vec_id", Some(0L))
    val s2 = ix.dedupeBatch(docs.where(col("vec_id") >= 50), "embedding", "vec_id", Some(1L))
    assert(s1.count() === 30)                       // no dups among bases
    assert(s2.count() === 0)                        // every copy caught by the index
    val ids = s1.select("vec_id").as[Long].collect().toSet
    assert(ids === (0L until 30L).toSet)
  }

  test("incremental == one-shot on id-ordered batches") {
    val docs = corpus
    val inc = {
      val ix = new VectorBandIndex(freshDir(), threshold = 0.9)
      val s1 = ix.dedupeBatch(docs.where(col("vec_id") <= 15), "embedding", "vec_id", Some(0L))
      val s2 = ix.dedupeBatch(docs.where(col("vec_id") > 15), "embedding", "vec_id", Some(1L))
      s1.select("vec_id").union(s2.select("vec_id")).as[Long].collect().toSet
    }
    val oneShot = new VectorBandIndex(freshDir(), threshold = 0.9)
      .dedupeBatch(docs, "embedding", "vec_id", None)
      .select("vec_id").as[Long].collect().toSet
    assert(inc === oneShot)
  }

  test("re-delivered batch yields identical survivors and no double-indexing") {
    val dir = freshDir()
    val ix = new VectorBandIndex(dir, threshold = 0.9)
    val docs = corpus
    val first = ix.dedupeBatch(docs.where(col("vec_id") < 50), "embedding", "vec_id",
      batchId = Some(1L))
    val n1 = first.count()
    val ixRows = ix.store.read(spark).count()
    // at-least-once re-delivery of the SAME batch id
    val again = ix.dedupeBatch(docs.where(col("vec_id") < 50), "embedding", "vec_id",
      batchId = Some(1L))
    assert(again.count() === n1)                    // identical output
    assert(ix.store.read(spark).count() === ixRows)  // no double append
  }

  test("compact preserves content and dedup behavior; markers survive") {
    val dir = freshDir()
    val ix = new VectorBandIndex(dir, threshold = 0.9)
    val docs = corpus
    ix.dedupeBatch(docs.where(col("vec_id") < 50), "embedding", "vec_id",
      batchId = Some(7L))
    val before = ix.store.read(spark).count()
    ix.compact(spark)
    assert(ix.store.compactionWatermark(spark) === Some(7L))
    assert(ix.store.read(spark).count() === before)
    // the planted copies are still caught by the compacted index
    assert(ix.dedupeBatch(docs.where(col("vec_id") >= 50), "embedding", "vec_id", None)
      .count() === 0)
    // the batch marker survived the compaction (re-delivery still skipped)
    assert(ix.store.committed(spark, 7L))
    ix.dedupeBatch(docs.where(col("vec_id") < 50), "embedding", "vec_id", Some(7L))
    assert(ix.store.read(spark).count() === before)
  }

  test("an all-filtered first batch leaves no unreadable index behind") {
    // Every row lacks a usable vector: the batch commits a 0-row append
    // (a `_SUCCESS`-only dir the store's reader skips), and the next
    // batch's probe must still work.
    val dir = freshDir()
    val ix = new VectorBandIndex(dir, threshold = 0.9)
    val empty = Seq((900L, Array.empty[Float]), (901L, Array.empty[Float]))
      .toDF("vec_id", "embedding")
    val out = ix.dedupeBatch(empty, "embedding", "vec_id", batchId = Some(3L))
    assert(out.count() === 2)  // vector-less rows pass through undeduped
    assert(ix.store.committed(spark, 3L))
    // the next REAL batch must work (this read crashed pre-fix)
    val s = ix.dedupeBatch(corpus.where(col("vec_id") < 50), "embedding", "vec_id", Some(4L))
    assert(s.count() === 30)
  }

  test("crash between append and marker: re-delivery appends exactly once") {
    // Simulate a crash AFTER the survivors' write but BEFORE the batch's
    // `_committed` marker: run the batch, delete its marker, re-deliver.
    // The retry overwrites the batch's own directory — no duplicates.
    val dir = freshDir()
    val ix = new VectorBandIndex(dir, threshold = 0.9)
    val bases = corpus.where(col("vec_id") < 50)
    val n1 = ix.dedupeBatch(bases, "embedding", "vec_id", batchId = Some(1L)).count()
    val rows1 = ix.store.read(spark).count()
    assert(new java.io.File(dir + "/_committed/1").delete())  // the "crash"
    val n2 = ix.dedupeBatch(bases, "embedding", "vec_id", batchId = Some(1L)).count()
    assert(n2 === n1)                                         // output identical
    assert(ix.store.read(spark).count() === rows1)            // no duplicate rows
    // the index still catches the planted copies
    assert(ix.dedupeBatch(corpus.where(col("vec_id") >= 50), "embedding", "vec_id", None)
      .count() === 0)
  }

  test("compact recovers from a crash at every mid-compact window") {
    val dir = freshDir()
    val ix = new VectorBandIndex(dir, threshold = 0.9)
    ix.dedupeBatch(corpus.where(col("vec_id") < 50), "embedding", "vec_id",
      batchId = Some(5L))
    val rows = ix.store.read(spark).count()
    def copiesDrop() = ix.dedupeBatch(corpus.where(col("vec_id") >= 50),
      "embedding", "vec_id", None).count() === 0
    def exists(rel: String) = new java.io.File(s"$dir/$rel").exists()

    // window 1: the compaction dir was written but its `_compacted/<w>`
    // marker never landed. Probes see the old generation (the batch dir),
    // and the next compact succeeds.
    ix.store.read(spark).write.partitionBy("band").parquet(s"$dir/compact/upto=5")
    assert(ix.store.compactionWatermark(spark).isEmpty)
    assert(ix.store.read(spark).count() === rows)
    assert(copiesDrop())
    ix.compact(spark)
    assert(ix.store.compactionWatermark(spark) === Some(5L))
    assert(!exists("data/batch=5"))
    assert(ix.store.read(spark).count() === rows)

    // window 2: the marker exists but the sweep never ran — a committed
    // batch dir at or below the watermark lingers. Probes are unchanged
    // (the reader stops at the watermark), and the next compact (after
    // the next batch) sweeps.
    def fresh(id: Long, seed: Int) = Seq((id,
      Array.fill(16)(new scala.util.Random(seed).nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    assert(ix.dedupeBatch(fresh(200L, 5003), "embedding", "vec_id", Some(6L)).count() === 1)
    val rows2 = ix.store.read(spark).count()
    ix.store.read(spark).write.partitionBy("band").parquet(s"$dir/compact/upto=6")
    new java.io.File(s"$dir/_compacted/6").createNewFile()
    assert(exists("data/batch=6") && exists("compact/upto=5"))
    assert(ix.store.read(spark).count() === rows2)
    assert(copiesDrop())
    assert(ix.dedupeBatch(fresh(201L, 90001), "embedding", "vec_id", Some(7L)).count() === 1)
    val rows3 = ix.store.read(spark).count()
    ix.compact(spark)
    assert(!exists("data/batch=6") && !exists("compact/upto=5") && !exists("compact/upto=6"))
    assert(ix.store.read(spark).count() === rows3)
    assert(copiesDrop())
  }

  test("no forced broadcast: dedup stays correct when broadcast joins are disabled") {
    // The build side is AQE's choice, not a hint — a huge backfill batch
    // must degrade to a non-broadcast plan, never a driver OOM. Pin by
    // running the whole dedup with broadcasting switched off entirely.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ix = new VectorBandIndex(freshDir(), threshold = 0.9)
      val docs = corpus
      val s1 = ix.dedupeBatch(docs.where(col("vec_id") < 50), "embedding", "vec_id", Some(0L))
      val s2 = ix.dedupeBatch(docs.where(col("vec_id") >= 50), "embedding", "vec_id", Some(1L))
      assert(s1.count() === 30 && s2.count() === 0)
      assert(s2.queryExecution.analyzed.toString.indexOf("ResolvedHint") === -1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("index layout is band-partitioned (probe-prunable)") {
    val dir = freshDir()
    val ix = new VectorBandIndex(dir, bandBits = 4, bands = 4, threshold = 0.9)
    ix.dedupeBatch(corpus, "embedding", "vec_id", Some(0L))
    val parts = new java.io.File(s"$dir/data/batch=0").listFiles()
      .filter(_.getName.startsWith("band=")).map(_.getName).toSet
    assert(parts.nonEmpty && parts.forall(_.matches("band=\\d+")))
  }

  test("nearDupAvailableNow: exactly-once drain with scheduled compaction; registry stays exact") {
    val root = java.nio.file.Files.createTempDirectory("vec_stream")
    val cp = java.nio.file.Files.createTempDirectory("vec_cp").toString
    val dir = freshDir()
    val docs = corpus
    // two landing files → batch ids 0,1; compaction fires after id 1
    docs.where(col("vec_id") < 50).coalesce(1)
      .write.parquet(root.toString + "/p0")
    docs.where(col("vec_id") >= 50).coalesce(1)
      .write.parquet(root.toString + "/p1")
    val ix = new VectorBandIndex(dir, bandBits = 8, bands = 16, threshold = 0.9)
    var survivors = List.empty[Long]
    def run(): Unit = {
      val stream = spark.readStream
        .schema("vec_id LONG, embedding ARRAY<FLOAT>")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1").parquet(root.toString)
      val q = graft.streaming.StreamingVectorDedup.nearDupAvailableNow(
        stream, ix, "embedding", "vec_id", cp,
        (s, _) => survivors = survivors ++ s.select("vec_id").as[Long].collect(),
        compactEvery = 2)
      q.awaitTermination(120000)
    }
    run()
    // all 30 bases survive; every planted copy drops against the index
    assert(survivors.sorted === (0L until 30L).toList)
    // compaction ran: each band partition folded to one file
    assert(ix.store.compactionWatermark(spark) === Some(1L))
    val bandDirs = new java.io.File(s"$dir/compact/upto=1").listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.nonEmpty)
    assert(bandDirs.forall(
      _.listFiles().count(f => f.getName.endsWith(".parquet")) == 1))
    // restart: nothing re-processes
    run()
    assert(survivors.sorted === (0L until 30L).toList)
    // post-compaction arrival: a copy of base 3 drops against the
    // COMPACTED registry; a fresh vector survives
    val late = Seq(
      (200L, corpus.where(col("vec_id") === 3L)
        .select("embedding").as[Array[Float]].head()),
      (201L, Array.fill(16)(new scala.util.Random(999).nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    late.coalesce(1).write.parquet(root.toString + "/p2")
    run()
    assert(survivors.sorted === ((0L until 30L) :+ 201L).toList)
  }
}
