package graft.load

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.{MainSources, SparkSuite}

class IdempotentParquetSinkSpec extends SparkSuite {
  import spark.implicits._

  test("source guard: per-batch appends go through graft/load only; no `_batches` ledgers") {
    val load = MainSources.root.resolve("graft/load")
    assert(MainSources.files.exists(_.startsWith(load)))
    val appends = MainSources.matchesOutside("""mode\("append"\)""".r)(_.startsWith(load))
    assert(appends.isEmpty, appends.mkString("\n"))
    val ledgers = MainSources.matchesOutside("_batches".r)(_ => false)
    assert(ledgers.isEmpty, ledgers.mkString("\n"))
  }

  test("batch retries do not duplicate rows; partial writes stay invisible") {
    val sink = new IdempotentParquetSink(
      Files.createTempDirectory("idem_sink").toString + "/t")

    assert(sink.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), batchId = 0L))
    assert(sink.append(Seq((3L, "c")).toDF("id", "v"), batchId = 1L))
    // at-least-once delivery: batch 1 re-executes -> skipped, no dup rows
    assert(!sink.append(Seq((3L, "c")).toDF("id", "v"), batchId = 1L))
    assert(sink.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b"), (3L, "c")))

    // a crashed attempt: data dir written but no marker -> reader ignores it
    Seq((99L, "zz")).toDF("id", "v")
      .write.mode("overwrite").parquet(sink.root + "/data/batch=7")
    assert(sink.read(spark).where(col("id") === 99L).count() === 0L)
    // the retry of that batch overwrites the partial and commits once
    assert(sink.append(Seq((4L, "d")).toDF("id", "v"), batchId = 7L))
    val all = sink.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
    assert(all === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
  }

  test("streaming wire: AvailableNow + foreachBatch into the sink, restart-safe") {
    val dir = Files.createTempDirectory("idem_docs")
    val cp  = Files.createTempDirectory("idem_cp").toString
    val sink = new IdempotentParquetSink(
      Files.createTempDirectory("idem_out").toString + "/t")
    Seq((1L, "x"), (2L, "y")).toDF("id", "v").write.parquet(dir.toString + "/p1")

    def drain(): Unit = {
      val q = spark.readStream.schema("id LONG, v STRING")
        .option("recursiveFileLookup", "true").parquet(dir.toString)
        .writeStream.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          sink.append(b, id); ()
        }
        .start()
      q.awaitTermination(120000)
    }
    drain()
    // a second drain with no new data re-delivers nothing; counts stable
    drain()
    assert(sink.read(spark).count() === 2L)
    Seq((3L, "z")).toDF("id", "v").write.parquet(dir.toString + "/p2")
    drain()
    assert(sink.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "x"), (2L, "y"), (3L, "z")))
  }

  test("compaction: content invariant, markers survive, appends continue, repeatable") {
    val sink = new IdempotentParquetSink(
      Files.createTempDirectory("idem_cmp").toString + "/t")
    def rows = sink.read(spark).orderBy("id").as[(Long, String)].collect().toSeq

    assert(!sink.compact(spark)) // empty: nothing to merge
    assert(sink.append(Seq((1L, "a")).toDF("id", "v"), 0L))
    assert(!sink.compact(spark)) // one live dir: still nothing to merge
    assert(sink.append(Seq((2L, "b")).toDF("id", "v"), 1L))
    assert(sink.append(Seq((3L, "c")).toDF("id", "v"), 2L))
    val before = rows
    assert(sink.compact(spark))
    assert(rows === before)
    // re-delivered pre-compaction batch id still skips (markers survive)
    assert(!sink.append(Seq((1L, "dup")).toDF("id", "v"), 0L))
    assert(rows === before)
    // appends continue past the watermark; a second compaction folds the
    // old compaction + the new batch into one directory again
    assert(sink.append(Seq((4L, "d")).toDF("id", "v"), 3L))
    assert(rows === before :+ (4L, "d"))
    assert(sink.compact(spark))
    assert(rows === before :+ (4L, "d"))
    assert(!sink.compact(spark)) // single compacted dir: no-op
    // and the sink still accepts new batches afterwards
    assert(sink.append(Seq((5L, "e")).toDF("id", "v"), 4L))
    assert(rows === before ++ Seq((4L, "d"), (5L, "e")))
  }

  test("compaction reclaims dirs orphaned by a crash between marker and deletes") {
    val root = Files.createTempDirectory("idem_orph").toString + "/t"
    val sink = new IdempotentParquetSink(root)
    def rows = sink.read(spark).orderBy("id").as[(Long, String)].collect().toSeq

    assert(sink.append(Seq((1L, "a")).toDF("id", "v"), 0L))
    assert(sink.append(Seq((2L, "b")).toDF("id", "v"), 1L))
    assert(sink.compact(spark)) // watermark upto=1
    assert(sink.append(Seq((3L, "c")).toDF("id", "v"), 2L))
    // simulate the crash: a later compaction wrote its data AND marker
    // but died before its deletes — recreate the superseded dirs it
    // would have left behind
    Seq((1L, "a")).toDF("id", "v")
      .write.mode("overwrite").parquet(root + "/data/batch=0")
    val before = rows
    assert(sink.compact(spark)) // watermark upto=2, sweep runs
    assert(rows === before)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    // everything below the new watermark is reclaimed: the old
    // compaction dir, the crash-orphaned batch dir, the folded batch
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "/compact/upto=1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "/data/batch=0")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + "/data/batch=2")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(root + "/compact/upto=2")))
    // markers survive: re-delivered old ids still skip
    assert(!sink.append(Seq((9L, "dup")).toDF("id", "v"), 0L))
    assert(rows === before)
  }

  test("foreign marker/data entries never crash or get swept; in-flight dirs survive compaction") {
    val root = Files.createTempDirectory("idem_frn").toString + "/t"
    val sink = new IdempotentParquetSink(root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    def touch(p: String): Unit = {
      fs.mkdirs(new org.apache.hadoop.fs.Path(p).getParent)
      fs.create(new org.apache.hadoop.fs.Path(p), true).close()
    }
    assert(sink.append(Seq((1L, "a")).toDF("id", "v"), 0L))
    // foreign entries a shared filesystem can grow: a checksum sidecar
    // in the marker dir, a stray temp dir under data/, a readme under
    // compact/ — none parse as ids, none may crash reads or compaction
    touch(s"$root/_committed/0.crc")
    touch(s"$root/data/_tmp_upload/part")
    touch(s"$root/compact/README.txt")
    assert(sink.read(spark).count() === 1L)
    // an IN-FLIGHT append: data written, marker not yet (its id below a
    // later committed id). Compaction must leave its data alone — the
    // marker may land right after the sweep.
    Seq((50L, "inflight")).toDF("id", "v")
      .write.mode("overwrite").parquet(s"$root/data/batch=1")
    assert(sink.append(Seq((2L, "b")).toDF("id", "v"), 2L))
    assert(sink.compact(spark)) // upTo = 2; batch=1 is uncommitted
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/batch=1")),
      "uncommitted in-flight batch dir was deleted by the sweep")
    // foreign entries untouched by the sweep
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/_tmp_upload")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/compact/README.txt")))
    assert(sink.read(spark).orderBy("id").as[(Long, String)].collect().toSeq
      === Seq((1L, "a"), (2L, "b")))
  }

  test("empty batches: partitioned 0-row appends stay readable; all-empty compaction advances") {
    val sink = new IdempotentParquetSink(
      Files.createTempDirectory("idem_mt").toString + "/t", Seq("p"))
    val empty = Seq.empty[(Long, String)].toDF("id", "p")
    // a 0-row partitioned write emits only _SUCCESS — a normal
    // foreachBatch occurrence; it must not poison later reads
    assert(sink.append(empty, 0L))
    assert(!sink.append(empty, 0L)) // still idempotent
    assert(sink.read(spark).count() === 0L)
    assert(sink.append(Seq((1L, "x")).toDF("id", "p"), 1L))
    assert(sink.read(spark).as[(Long, String)].collect().toSeq === Seq((1L, "x")))
    // all-empty store: compaction advances the watermark with no data
    // dir, and the sink keeps working afterwards
    val sink2 = new IdempotentParquetSink(
      Files.createTempDirectory("idem_mt2").toString + "/t", Seq("p"))
    assert(sink2.append(empty, 0L))
    assert(sink2.append(empty, 1L))
    assert(sink2.compact(spark))
    assert(sink2.read(spark).count() === 0L)
    assert(sink2.append(Seq((2L, "y")).toDF("id", "p"), 2L))
    assert(sink2.read(spark).as[(Long, String)].collect().toSeq === Seq((2L, "y")))
  }
}
