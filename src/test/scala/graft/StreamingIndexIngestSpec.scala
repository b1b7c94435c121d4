package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Bm25
import graft.streaming.StreamingIndexIngest

/** [[StreamingIndexIngest]]: the production maintenance entry point —
  * end-to-end landing-dir drain with scheduled compaction firing
  * MID-STREAM, restart stability, post-compaction growth, and query
  * exactness against the inline index at every stage.
  */
class StreamingIndexIngestSpec extends SparkSuite {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "the dog sat"),
    (3L, "cat cat cat"),
    (4L, "birds fly"))
    .toDF("doc_id", "text")

  private val schema = StructType(new StructType()
    .add("doc_id", org.apache.spark.sql.types.LongType)
    .add("text", org.apache.spark.sql.types.StringType))

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "doc_id", "score", "rank")
      .as[(Long, Long, Double, Int)].collect().toSet

  test("drain with mid-stream scheduled compaction; restart no-op; exact growth after") {
    val landing = java.nio.file.Files.createTempDirectory("sii_l").toString
    val cp = java.nio.file.Files.createTempDirectory("sii_c").toString
    val root = java.nio.file.Files.createTempDirectory("sii_i").toString
    val ix = new Bm25.DiskIndex(root, termBuckets = 4)
    val q = Seq((1L, "cat sat")).toDF("qid", "q")
    def drain(): Unit = {
      val s = StreamingIndexIngest.run(spark, landing, schema, ix,
        "doc_id", "text", cp, compactEvery = 2, maxFilesPerTrigger = 1)
      s.awaitTermination(120000)
    }
    // two landing files → batch ids 0, 1 → compaction fires after id 1,
    // WHILE the drain is still the running query (mid-stream), then a
    // third file in the same backlog appends as the post-compaction tail
    docs.where(col("doc_id") <= 2L).coalesce(1).write.parquet(s"$landing/p0")
    docs.where(col("doc_id") === 3L).coalesce(1).write.parquet(s"$landing/p1")
    docs.where(col("doc_id") === 4L).coalesce(1).write.parquet(s"$landing/p2")
    drain()
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    val w = ix.store.compactionWatermark(spark)
    assert(w.nonEmpty, "scheduled compaction did not fire during the drain")
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$root/_aux/${w.get}")),
      "compaction did not materialize artifacts")
    // batch id 2 (p2) landed AFTER the watermark: it is the tail
    assert(w.get === 1L, s"watermark ${w.get}")
    val want = rows(Bm25.topK(docs, q, "doc_id", "text", "qid", "q", 5))
    assert(rows(ix.topK(spark, q, "qid", "q", 5)) === want)
    assert(rows(ix.topKMaxScore(spark, q, "qid", "q", 5)) === want)
    // restart with no new files: file-source checkpoint re-delivers
    // nothing; index and answers unchanged
    drain()
    assert(rows(ix.topK(spark, q, "qid", "q", 5)) === want)
    // new files land; a later drain appends them and the id-keyed
    // schedule fires again at the next boundary (ids 3, 4 → fires at 3)
    val extra = Seq((100L, "another cat appears")).toDF("doc_id", "text")
    extra.coalesce(1).write.parquet(s"$landing/p3")
    drain()
    val wantGrown = rows(Bm25.topK(
      docs.unionByName(extra), q, "doc_id", "text", "qid", "q", 5))
    assert(rows(ix.topK(spark, q, "qid", "q", 5)) === wantGrown)
    val w2 = ix.store.compactionWatermark(spark).get
    assert(w2 === 3L, s"id-keyed schedule drifted: watermark $w2")
    assert(rows(ix.topKMaxScore(spark, q, "qid", "q", 5)) === wantGrown)
  }

  test("vector twin: landing-dir drain dedups against the band index, compacts mid-drain, restarts as a no-op") {
    import graft.streaming.{StreamingIndexIngest, StreamingVectorDedup}
    val landing = java.nio.file.Files.createTempDirectory("svi_l").toString
    val cp = java.nio.file.Files.createTempDirectory("svi_c").toString
    val root = java.nio.file.Files.createTempDirectory("svi_i").toString + "/ix"
    val ix = new StreamingVectorDedup.VectorBandIndex(root,
      bandBits = 8, bands = 16, threshold = 0.9)
    // well-separated seeded Gaussians; 3/5 duplicate 1/4 exactly
    def vec(seed: Int): Array[Float] = {
      val rnd = new scala.util.Random(42 + seed)
      Array.fill(16)(rnd.nextGaussian().toFloat)
    }
    val vSchema = StructType(new StructType()
      .add("vec_id", org.apache.spark.sql.types.LongType)
      .add("embedding", org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.FloatType)))
    val survivors = scala.collection.mutable.Set[Long]()
    def drain(): Unit = {
      val s = StreamingIndexIngest.runVector(spark, landing, vSchema, ix,
        "vec_id", "embedding", cp, compactEvery = 2, maxFilesPerTrigger = 1,
        onSurvivors = (df, _) => survivors.synchronized {
          survivors ++= df.select("vec_id").as[Long].collect()
        })
      s.awaitTermination(120000)
    }
    // three landing files → batch ids 0, 1, 2; compaction fires after
    // id 1 (mid-drain); id 3 dups id 1 across batches, id 5 dups id 4
    // within its batch
    Seq((1L, vec(1)), (2L, vec(2))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$landing/p0")
    Seq((3L, vec(1)), (4L, vec(4))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$landing/p1")
    Seq((5L, vec(4))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$landing/p2")
    drain()
    assert(survivors.toSet === Set(1L, 2L, 4L))
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fsys.exists(new org.apache.hadoop.fs.Path(s"$root/_committed/1")),
      "batch marker missing")
    // the mid-drain compact left the index readable: the indexed ids are
    // exactly the survivors
    val indexed = ix.store.read(spark).select("id").distinct()
      .as[Long].collect().toSet
    assert(indexed === Set(1L, 2L, 4L), indexed.toString)
    // restart with no new files: nothing re-drains, nothing re-indexes
    survivors.clear()
    drain()
    assert(survivors.isEmpty, survivors.toString)
    // a later landing file dedups against the PERSISTED registry
    Seq((6L, vec(2)), (7L, vec(7))).toDF("vec_id", "embedding")
      .coalesce(1).write.parquet(s"$landing/p3")
    drain()
    assert(survivors.toSet === Set(7L), survivors.toString)
    val indexed2 = ix.store.read(spark).select("id").distinct()
      .as[Long].collect().toSet
    assert(indexed2 === Set(1L, 2L, 4L, 7L), indexed2.toString)
  }
}
