package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingDedup
import graft.operators.Dedup

class StreamingDedupSpec extends SparkSuite {
  import spark.implicits._

  private val doc = "the quick brown fox jumps over the lazy dog again and again " * 4
  private def mut(s: String, tag: String) = s + " " + tag

  test("exactWithinWatermark keeps first arrival per fingerprint, forgets after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val ts = (m: Int) => java.sql.Timestamp.valueOf(f"2026-01-01 10:$m%02d:00")
    val docs = in.toDF().toDF("id", "text", "ts")
    val out = StreamingDedup.exactWithinWatermark(docs, "text", "id", "ts", "5 minutes")
    val q = out.writeStream.format("memory").queryName("exact_dedup")
      .outputMode("append").start()
    try {
      // batch 1: duplicate content within the window -> one survivor
      in.addData((1L, "Hello  World", ts(0)), (2L, "hello world", ts(1)), (3L, "other", ts(1)))
      q.processAllAvailable()
      // advance watermark far past the dups, then re-send the same content:
      // fingerprint state was dropped, so it's kept again (bounded state).
      in.addData((4L, "advance", ts(30)))
      q.processAllAvailable()
      in.addData((5L, "hello world", ts(31)))
      q.processAllAvailable()
      val ids = spark.table("exact_dedup").select("id").as[Long].collect().sorted
      assert(ids.contains(1L) && !ids.contains(2L))
      assert(ids.contains(3L) && ids.contains(5L))
    } finally q.stop()
  }

  test("LshIndex dedups within a batch and against prior batches") {
    val dir = Files.createTempDirectory("lsh_index").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir, shingleN = 3, numHashes = 64,
      bands = 16, threshold = 0.5)

    // batch 1: A and A' near-dups (A' survives nothing: greedy keeps min id), B distinct
    val b1 = Seq(
      (10L, mut(doc, "alpha")), (11L, mut(doc, "beta")),
      (20L, "completely different content about spark catalyst optimizer rules " * 8))
      .toDF("doc_id", "text")
    val s1 = ix.dedupeBatch(b1, "text", "doc_id", Some(0L))
    assert(s1.select("doc_id").as[Long].collect().sorted.toSeq === Seq(10L, 20L))

    // batch 2: A'' (near-dup of indexed A) dropped; C (new) kept
    val b2 = Seq(
      (30L, mut(doc, "gamma")),
      (40L, "yet another unrelated corpus document mentioning shuffle partitions " * 8))
      .toDF("doc_id", "text")
    val s2 = ix.dedupeBatch(b2, "text", "doc_id", Some(1L))
    assert(s2.select("doc_id").as[Long].collect().sorted.toSeq === Seq(40L))

    // index holds exactly the survivors' band rows, partitioned by band
    val ixDf = ix.store.read(spark)
    assert(ixDf.select("id").distinct().as[Long].collect().sorted.toSeq ===
      Seq(10L, 20L, 40L))
    assert(ixDf.groupBy("id").count().select("count").distinct().as[Long].head() === 16L)
  }

  test("LshIndex agrees with the batch minhashLshPairs on the same corpus") {
    // same docs through (a) one-shot batch LSH pairs, (b) the incremental
    // index in two batches -> identical near-dup verdicts.
    val docs = Seq(
      (1L, mut(doc, "one")), (2L, mut(doc, "two")),
      (3L, "spark structured streaming stateful processing watermark " * 10),
      (4L, mut(doc, "three")))
    val batchPairs = Dedup.minhashLshPairs(docs.toDF("doc_id", "text"),
        "text", "doc_id", 3, 64, 16, 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(batchPairs === Set((1L, 2L), (1L, 4L), (2L, 4L)))

    val dir = Files.createTempDirectory("lsh_index2").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    val s1 = ix.dedupeBatch(docs.take(2).toDF("doc_id", "text"), "text", "doc_id", Some(0L))
    val s2 = ix.dedupeBatch(docs.drop(2).toDF("doc_id", "text"), "text", "doc_id", Some(1L))
    val kept = (s1.select("doc_id").as[Long].collect() ++
      s2.select("doc_id").as[Long].collect()).sorted.toSeq
    assert(kept === Seq(1L, 3L))  // 2 dropped in-batch, 4 dropped vs index
  }

  test("cross-corpus pairs equal the in-corpus exact pairs restricted to cross-side") {
    // left = "existing corpus", right = candidates; the between-variant
    // must find exactly the verified pairs the single-corpus exact
    // operator finds across the split (and none within a side).
    val docs = Seq(
      (1L, mut(doc, "one")), (2L, mut(doc, "two")),
      (3L, "spark structured streaming stateful processing watermark " * 10),
      (4L, mut(doc, "three")),
      (5L, "completely independent prose about catalyst rules " * 8))
      .toDF("doc_id", "text")
    val left = docs.where(col("doc_id") <= 2)
    val right = docs.where(col("doc_id") > 2)
    val between = Dedup.ngramJaccardBetweenViaLsh(left, right, "text", "doc_id",
        n = 3, threshold = 0.5)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    val all = Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val crossOnly = all.filter { case (a, b) => (a <= 2) != (b <= 2) }
      .map { case (a, b) => if (a <= 2) (a, b) else (b, a) }
    assert(between === crossOnly && between.nonEmpty)
    // the EXACT between route (complete recall, q85's operator) agrees
    // with both — on this corpus all true pairs survive banding, so the
    // three routes coincide, including the jaccard values themselves
    val exact = Dedup.ngramJaccardBetween(left, right, "text", "doc_id",
        n = 3, threshold = 0.5)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    assert(exact === crossOnly)
    val prefix = Dedup.ngramJaccardBetweenPrefixFiltered(left, right,
        "text", "doc_id", n = 3, threshold = 0.5)
      .select("id_left", "id_right").as[(Long, Long)].collect().toSet
    assert(prefix === crossOnly)
  }

  test("exact between route keeps marginal-J pairs that LSH banding can miss") {
    // A J~=0.5 pair collides in some 4-row band with only ~65% probability
    // per the banding bound; the exact inverted-index route has no recall
    // term at all. Build a pair with jaccard right at the threshold and
    // check the exact route reports it with the true jaccard — this is
    // the contract that makes q85 safe against testdata refreshes.
    val a = (1 to 40).map(i => s"tok$i").mkString(" ")               // shingles 1..38
    val b = ((1 to 26) ++ (101 to 114)).map(i => s"tok$i").mkString(" ")
    val left = Seq((10L, a)).toDF("doc_id", "text")
    val right = Seq((20L, b), (21L, "wholly unrelated content " * 10)).toDF("doc_id", "text")
    val routes = Seq(
      Dedup.ngramJaccardBetween(left, right, "text", "doc_id",
        n = 3, threshold = 0.4),
      Dedup.ngramJaccardBetweenPrefixFiltered(left, right, "text", "doc_id",
        n = 3, threshold = 0.4))
    routes.foreach { r =>
      val got = r.select("id_left", "id_right", "jaccard")
        .as[(Long, Long, Double)].collect().toSeq
      assert(got.map(p => (p._1, p._2)) === Seq((10L, 20L)))
      // shared 3-shingles: windows fully inside tokens 1..26 -> 24 of
      // them; |A|=38, |B|=38 -> J = 24 / (38 + 38 - 24)
      assert(math.abs(got.head._3 - 24.0 / 52.0) < 1e-9)
    }
  }

  test("compact rewrites the index smaller, preserving content and dedup behavior") {
    val dir = Files.createTempDirectory("lsh_compact").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    // several small appends -> many files
    (0 until 4).foreach { b =>
      ix.dedupeBatch(Seq((b * 10L, s"unique content batch $b " + ("filler words " * 20)))
        .toDF("doc_id", "text"), "text", "doc_id", Some(b.toLong))
    }
    val before = ix.store.read(spark)
    val rowsBefore = before.orderBy("id", "band").collect().toSeq
    def fileCount = {
      val p = java.nio.file.Paths.get(dir)
      java.nio.file.Files.walk(p).filter(_.toString.endsWith(".parquet")).count()
    }
    val filesBefore = fileCount
    ix.compact(spark)
    assert(fileCount < filesBefore)
    assert(ix.store.read(spark).orderBy("id", "band").collect().toSeq === rowsBefore)
    // post-compaction, probing still finds indexed docs
    val s = ix.dedupeBatch(
      Seq((99L, "unique content batch 2 " + ("filler words " * 20)),
          (98L, "brand new text never indexed " * 10)).toDF("doc_id", "text"),
      "text", "doc_id", None)
    assert(s.select("doc_id").as[Long].collect().toSeq === Seq(98L))
  }

  test("compact recovers from a crash at every mid-compact window") {
    val dir = Files.createTempDirectory("lsh_midcrash").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    val b = Seq((1L, mut(doc, "aa")),
      (3L, "entirely distinct prose about state stores " * 8)).toDF("doc_id", "text")
    ix.dedupeBatch(b, "text", "doc_id", batchId = Some(5L))
    val rows = ix.store.read(spark).orderBy("id", "band").collect().toSeq
    def probeDrops() = ix.dedupeBatch(
      Seq((9L, mut(doc, "zz"))).toDF("doc_id", "text"), "text", "doc_id", None)
      .count() === 0
    def exists(rel: String) = new java.io.File(s"$dir/$rel").exists()

    // window 1: the compaction dir was written but its `_compacted/<w>`
    // marker never landed. Probes see the old generation (the batch dir),
    // and the next compact succeeds.
    ix.store.read(spark).write.partitionBy("band").parquet(s"$dir/compact/upto=5")
    assert(ix.store.compactionWatermark(spark).isEmpty)
    assert(ix.store.read(spark).orderBy("id", "band").collect().toSeq === rows)
    assert(probeDrops())
    ix.compact(spark)
    assert(ix.store.compactionWatermark(spark) === Some(5L))
    assert(!exists("data/batch=5"))
    assert(ix.store.read(spark).orderBy("id", "band").collect().toSeq === rows)

    // window 2: the marker exists but the sweep never ran — a committed
    // batch dir at or below the watermark lingers. Probes are unchanged
    // (the reader stops at the watermark), and the next compact sweeps.
    ix.dedupeBatch(Seq((20L, "a second batch about watermark folding " * 8))
      .toDF("doc_id", "text"), "text", "doc_id", Some(6L))
    val rows2 = ix.store.read(spark).orderBy("id", "band").collect().toSeq
    ix.store.read(spark).write.partitionBy("band").parquet(s"$dir/compact/upto=6")
    new java.io.File(s"$dir/_compacted/6").createNewFile()
    assert(exists("data/batch=6") && exists("compact/upto=5"))
    assert(ix.store.read(spark).orderBy("id", "band").collect().toSeq === rows2)
    assert(probeDrops())
    ix.dedupeBatch(Seq((30L, "a third batch arriving after the torn sweep " * 8))
      .toDF("doc_id", "text"), "text", "doc_id", Some(7L))
    val rows3 = ix.store.read(spark).orderBy("id", "band").collect().toSeq
    ix.compact(spark)
    assert(!exists("data/batch=6") && !exists("compact/upto=5") && !exists("compact/upto=6"))
    assert(ix.store.read(spark).orderBy("id", "band").collect().toSeq === rows3)
    // re-delivery of a compacted batch id is still skipped (no double append)
    ix.dedupeBatch(b, "text", "doc_id", batchId = Some(5L))
    assert(ix.store.read(spark).count() === rows3.size)
    assert(probeDrops())
  }

  test("re-delivered batch yields identical survivors and no double-indexing") {
    val dir = Files.createTempDirectory("lsh_retry").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    val b = Seq((1L, mut(doc, "aa")), (2L, mut(doc, "bb")),
      (3L, "entirely distinct prose about state stores " * 8)).toDF("doc_id", "text")
    val first = ix.dedupeBatch(b, "text", "doc_id", batchId = Some(42L))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(first === Seq(1L, 3L))
    // foreachBatch retry: same batch id, rows already indexed ->
    // SAME survivors re-delivered (not dropped as dup-of-self),
    // and the index is not appended a second time
    val retry = ix.dedupeBatch(b, "text", "doc_id", batchId = Some(42L))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(retry === first)
    val perId = ix.store.read(spark).groupBy("id").count()
      .select("count").distinct().as[Long].collect().toSeq
    assert(perId === Seq(16L))   // one band-row set per doc, no dups
  }

  test("an all-filtered first batch leaves no unreadable index behind") {
    // Every row lacks a usable signature (nothing to shingle): the batch
    // commits a 0-row append (a `_SUCCESS`-only dir the store's reader
    // skips), and the next batch's probe must still work.
    val dir = Files.createTempDirectory("lsh_empty").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    val empty = Seq((900L, ""), (901L, "")).toDF("doc_id", "text")
    val out = ix.dedupeBatch(empty, "text", "doc_id", batchId = Some(3L))
    assert(out.count() === 2)  // signature-less rows pass through undeduped
    assert(ix.store.committed(spark, 3L))
    // the next REAL batch must work (this read crashed pre-fix)
    val s = ix.dedupeBatch(
      Seq((1L, mut(doc, "aa")),
          (2L, "entirely distinct prose about state stores " * 8))
        .toDF("doc_id", "text"), "text", "doc_id", Some(4L))
    assert(s.count() === 2)
  }

  test("crash between append and marker: re-delivery appends exactly once") {
    // Simulate a crash AFTER the survivors' write but BEFORE the batch's
    // `_committed` marker: run the batch, delete its marker, re-deliver.
    // The retry overwrites the batch's own directory — no duplicates.
    val dir = Files.createTempDirectory("lsh_crash").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    val b = Seq((1L, mut(doc, "aa")),
      (3L, "entirely distinct prose about state stores " * 8)).toDF("doc_id", "text")
    val n1 = ix.dedupeBatch(b, "text", "doc_id", batchId = Some(1L)).count()
    val rows1 = ix.store.read(spark).count()
    assert(new java.io.File(dir + "/_committed/1").delete())  // the "crash"
    val n2 = ix.dedupeBatch(b, "text", "doc_id", batchId = Some(1L)).count()
    assert(n2 === n1)                                         // output identical
    assert(ix.store.read(spark).count() === rows1)            // no duplicate rows
    // the index still catches near-dups of indexed docs
    assert(ix.dedupeBatch(Seq((9L, mut(doc, "bb"))).toDF("doc_id", "text"),
      "text", "doc_id", None).count() === 0)
  }

  test("a None probe writes nothing under the index dir") {
    val dir = Files.createTempDirectory("lsh_probe").toString + "/ix"
    val ix = new StreamingDedup.LshIndex(dir)
    val out = ix.dedupeBatch(Seq((1L, mut(doc, "aa")), (2L, mut(doc, "bb")))
      .toDF("doc_id", "text"), "text", "doc_id", None)
    assert(out.select("doc_id").as[Long].collect().toSeq === Seq(1L))
    assert(!new java.io.File(dir).exists())
  }

  test("no forced broadcast: dedup stays correct when broadcast joins are disabled") {
    // The build side is AQE's choice, not a hint — a huge backfill batch
    // must degrade to a non-broadcast plan, never a driver OOM. Pin by
    // running the whole dedup with broadcasting switched off entirely.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val ix = new StreamingDedup.LshIndex(
        Files.createTempDirectory("lsh_nobc").toString + "/ix")
      val s1 = ix.dedupeBatch(
        Seq((1L, mut(doc, "aa")), (2L, mut(doc, "bb")),
            (3L, "entirely distinct prose about state stores " * 8))
          .toDF("doc_id", "text"), "text", "doc_id", Some(0L))
      val s2 = ix.dedupeBatch(
        Seq((9L, mut(doc, "cc"))).toDF("doc_id", "text"), "text", "doc_id", Some(1L))
      assert(s1.select("doc_id").as[Long].collect().sorted.toSeq === Seq(1L, 3L))
      assert(s2.count() === 0)
      assert(s2.queryExecution.analyzed.toString.indexOf("ResolvedHint") === -1)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("nearDupAvailableNow drains a file stream through the index exactly once") {
    val root = Files.createTempDirectory("stream_docs")
    val cp   = Files.createTempDirectory("stream_cp").toString
    val dir  = Files.createTempDirectory("lsh_index3").toString + "/ix"
    Seq((100L, mut(doc, "x")), (101L, mut(doc, "y")), (102L, "totally unique text " * 10))
      .toDF("doc_id", "text").write.parquet(root.toString + "/part1")

    val ix = new StreamingDedup.LshIndex(dir)
    var survivors = List.empty[Long]
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true").parquet(root.toString)
      val q = StreamingDedup.nearDupAvailableNow(stream, ix, "text", "doc_id", cp,
        (s, _) => survivors = survivors ++ s.select("doc_id").as[Long].collect())
      q.awaitTermination(120000)
    }
    run()
    assert(survivors.sorted === List(100L, 102L))
    // second arrival: one near-dup of the indexed corpus, one new
    Seq((200L, mut(doc, "z")), (201L, "fresh never seen before content " * 10))
      .toDF("doc_id", "text").write.parquet(root.toString + "/part2")
    run()
    assert(survivors.sorted === List(100L, 102L, 201L))
  }

  test("nearDupAvailableNow with scheduled compaction: fires mid-drain, dedup stays exact, ledger survives") {
    val root = Files.createTempDirectory("stream_docs_c")
    val cp   = Files.createTempDirectory("stream_cp_c").toString
    val dir  = Files.createTempDirectory("lsh_index_c").toString + "/ix"
    // three landing files, one per micro-batch → ids 0,1,2; compaction
    // fires after id 2 inside the drain (between-batch window — the
    // serialized single-writer rule by construction), folding all
    // three batches' file sets into one per band
    Seq((100L, mut(doc, "x")), (102L, "totally unique text " * 10))
      .toDF("doc_id", "text").coalesce(1).write.parquet(root.toString + "/p0")
    Seq((110L, mut(doc, "q")))
      .toDF("doc_id", "text").coalesce(1).write.parquet(root.toString + "/p1")
    Seq((120L, "another corpus entirely about compaction " * 8))
      .toDF("doc_id", "text").coalesce(1).write.parquet(root.toString + "/p2")
    val ix = new StreamingDedup.LshIndex(dir)
    var survivors = List.empty[Long]
    def run(): Unit = {
      val stream = spark.readStream
        .schema("doc_id LONG, text STRING")
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1").parquet(root.toString)
      val q = StreamingDedup.nearDupAvailableNow(stream, ix, "text", "doc_id", cp,
        (s, _) => survivors = survivors ++ s.select("doc_id").as[Long].collect(),
        compactEvery = 3)
      q.awaitTermination(120000)
    }
    run()
    // 100 survives its batch, 110 is a near-dup of the indexed 100
    // (the compaction must not lose registry rows), 120 is new
    assert(survivors.sorted === List(100L, 102L, 120L))
    // compaction actually ran: one compaction generation, one file per
    // band partition, and the folded batch dirs are gone
    assert(ix.store.compactionWatermark(spark) === Some(2L))
    assert(!new java.io.File(s"$dir/data/batch=0").exists())
    val bandDirs = new java.io.File(s"$dir/compact/upto=2").listFiles()
      .filter(_.getName.startsWith("band="))
    assert(bandDirs.nonEmpty)
    assert(bandDirs.forall(
      _.listFiles().count(f => f.getName.endsWith(".parquet")) == 1),
      "band partitions not compacted to one file each")
    // restart with no new files: nothing re-processes (`_committed`
    // markers + file checkpoint both survived the compaction)
    run()
    assert(survivors.sorted === List(100L, 102L, 120L))
    // post-compaction arrival (id 3, no compact: (3+1) % 3 != 0):
    // near-dup of the COMPACTED registry drops, new text survives
    Seq((130L, mut(doc, "w")), (131L, "late wholly original words " * 9))
      .toDF("doc_id", "text").coalesce(1).write.parquet(root.toString + "/p3")
    run()
    assert(survivors.sorted === List(100L, 102L, 120L, 131L))
  }
}
