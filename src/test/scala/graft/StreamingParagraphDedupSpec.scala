package graft

import org.apache.spark.sql.functions._

import graft.operators.Paragraphs
import graft.streaming.StreamingParagraphDedup.ParagraphRegistry

/** Incremental paragraph-hash dedup against the persistent fingerprint
  * registry — the streaming twin of [[Paragraphs.dedupFirstByShard]]:
  * cross-batch boilerplate drops, incremental == one-shot on id-ordered
  * batches, re-delivery re-derives identical output without
  * double-appending, shard isolation, mid-stream compaction.
  */
class StreamingParagraphDedupSpec extends SparkSuite {
  import spark.implicits._

  private val B = "subscribe to the newsletter for more updates"

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("graft_pix").toString + "/ix"

  test("cross-batch boilerplate drops; first batch's winner keeps it; all-copy docs vanish") {
    val ix = new ParagraphRegistry(freshDir())
    val b1 = Seq(
      (1L, "en", s"unique one\n\n$B"),
      (2L, "en", "unique two")).toDF("doc_id", "lang", "text")
    val b2 = Seq(
      (3L, "en", s"$B\n\nunique three"), // loses the boilerplate
      (4L, "en", B))                     // all-copy: vanishes
      .toDF("doc_id", "lang", "text")
    val s1 = ix.dedupeBatch(b1, "text", "doc_id", "lang", Some(0L))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s1 === Map(1L -> s"unique one\n\n$B", 2L -> "unique two"))
    val s2 = ix.dedupeBatch(b2, "text", "doc_id", "lang", Some(1L))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s2 === Map(3L -> "unique three"), s2.toString)
  }

  test("incremental == one-shot operator on id-ordered batches; shards isolate") {
    val docs = Seq(
      (1L, "en", s"alpha alpha\n\n$B"),
      (2L, "fr", s"$B\n\nbeta beta"), // other shard: keeps its own copy
      (3L, "en", s"$B\n\ngamma gamma"),
      (4L, "en", s"delta delta\n\n$B"))
      .toDF("doc_id", "lang", "text")
    val oneShot = Paragraphs
      .dedupFirstByShard(docs, "text", "doc_id", "lang")
      .as[(Long, String, String)].collect().toSet
    val ix = new ParagraphRegistry(freshDir())
    val inc = (
      ix.dedupeBatch(docs.where(col("doc_id") <= 2), "text", "doc_id", "lang",
          Some(0L)).as[(Long, String, String)].collect() ++
      ix.dedupeBatch(docs.where(col("doc_id") > 2), "text", "doc_id", "lang",
          Some(1L)).as[(Long, String, String)].collect()).toSet
    assert(inc === oneShot, s"$inc vs $oneShot")
    // fr kept its own boilerplate copy despite en registering it first
    assert(inc.exists { case (id, l, t) => id == 2L && t.contains(B) })
  }

  test("re-delivered batch re-derives identical survivors and never double-appends") {
    val dir = freshDir()
    val ix = new ParagraphRegistry(dir)
    val b1 = Seq((1L, "en", s"one one\n\n$B"), (2L, "en", s"$B\n\ntwo two"))
      .toDF("doc_id", "lang", "text")
    val first = ix.dedupeBatch(b1, "text", "doc_id", "lang", Some(0L))
      .as[(Long, String, String)].collect().toSet
    val rows = ix.store.read(spark).count()
    val again = ix.dedupeBatch(b1, "text", "doc_id", "lang", Some(0L))
      .as[(Long, String, String)].collect().toSet
    assert(again === first)
    assert(ix.store.read(spark).count() === rows, "registry grew on re-delivery")
    assert(first === Set((1L, "en", s"one one\n\n$B"), (2L, "en", "two two")))
  }

  test("crash between append and marker: re-delivery appends exactly once") {
    // Simulate a crash AFTER the winners' write but BEFORE the batch's
    // `_committed` marker: run the batch, delete its marker, re-deliver.
    // The retry overwrites the batch's own directory — no duplicates.
    val dir = freshDir()
    val ix = new ParagraphRegistry(dir)
    val b1 = Seq((1L, "en", s"one one\n\n$B"), (2L, "en", s"$B\n\ntwo two"))
      .toDF("doc_id", "lang", "text")
    val first = ix.dedupeBatch(b1, "text", "doc_id", "lang", Some(1L))
      .as[(Long, String, String)].collect().toSet
    val rows1 = ix.store.read(spark).count()
    assert(new java.io.File(dir + "/_committed/1").delete())  // the "crash"
    val again = ix.dedupeBatch(b1, "text", "doc_id", "lang", Some(1L))
      .as[(Long, String, String)].collect().toSet
    assert(again === first)                                   // output identical
    assert(ix.store.read(spark).count() === rows1)            // no duplicate rows
  }

  test("a None probe writes nothing under the registry dir") {
    val dir = freshDir()
    val ix = new ParagraphRegistry(dir)
    val b = Seq((1L, "en", s"one one\n\n$B"), (2L, "en", s"$B\n\ntwo two"))
      .toDF("doc_id", "lang", "text")
    val out = ix.dedupeBatch(b, "text", "doc_id", "lang", None)
      .as[(Long, String, String)].collect().toSet
    assert(out === Set((1L, "en", s"one one\n\n$B"), (2L, "en", "two two")))
    assert(!new java.io.File(dir).exists())
  }

  test("compaction mid-stream scrubs and the registry keeps deduping after") {
    val dir = freshDir()
    val ix = new ParagraphRegistry(dir, buckets = 4)
    val b1 = Seq((1L, "en", s"first first\n\n$B")).toDF("doc_id", "lang", "text")
    val b2 = Seq((2L, "en", s"second second\n\n$B")).toDF("doc_id", "lang", "text")
    ix.dedupeBatch(b1, "text", "doc_id", "lang", Some(0L)).collect()
    ix.compact(spark)
    val s2 = ix.dedupeBatch(b2, "text", "doc_id", "lang", Some(1L))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(s2 === Map(2L -> "second second"))
    ix.compact(spark)
    // post-compaction probe still sees every registered fingerprint
    val b3 = Seq((3L, "en", B)).toDF("doc_id", "lang", "text")
    assert(ix.dedupeBatch(b3, "text", "doc_id", "lang", Some(2L)).isEmpty)
  }

  test("availableNow drain: exactly-once over a landing dir with scheduled compaction") {
    import graft.streaming.StreamingParagraphDedup
    val landing = java.nio.file.Files.createTempDirectory("pix_l").toString
    val cp = java.nio.file.Files.createTempDirectory("pix_c").toString
    val ix = new ParagraphRegistry(freshDir(), buckets = 4)
    val schema = org.apache.spark.sql.types.StructType(
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", org.apache.spark.sql.types.LongType)
        .add("lang", org.apache.spark.sql.types.StringType)
        .add("text", org.apache.spark.sql.types.StringType))
    Seq((1L, "en", s"one one\n\n$B")).toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$landing/p0")
    Seq((2L, "en", s"$B\n\ntwo two")).toDF("doc_id", "lang", "text")
      .coalesce(1).write.parquet(s"$landing/p1")
    val got = scala.collection.mutable.Map[Long, String]()
    def drain(): Unit = {
      val q = StreamingParagraphDedup.dedupAvailableNow(
        spark.readStream.schema(schema)
          .option("recursiveFileLookup", "true")
          .option("maxFilesPerTrigger", 1).parquet(landing),
        ix, "text", "doc_id", "lang", cp,
        onSurvivors = (df, _) => got.synchronized {
          df.collect().foreach(r => got(r.getLong(0)) = r.getString(2))
        },
        compactEvery = 2)
      q.awaitTermination(120000)
    }
    drain()
    assert(got.toMap === Map(1L -> s"one one\n\n$B", 2L -> "two two"))
    // restart: nothing re-drains
    got.clear(); drain()
    assert(got.isEmpty, got.toString)
  }
}
