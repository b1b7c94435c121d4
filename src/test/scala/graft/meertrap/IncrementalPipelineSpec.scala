package graft.meertrap

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.streaming.IncrementalRunner

/** Incremental end-to-end: the reference's Dagster daily-partition story
  * re-expressed as bronze/silver — micro-batches of run summaries, parsed
  * and quarantined by the batch source's own parse, append to a bronze
  * table (content dedup across batches is the silver step's, since dups
  * can span batches); the SAME `ObservationTransform` then runs over
  * accumulated bronze and must produce exactly the batch pipeline's
  * entities.
  */
class IncrementalPipelineSpec extends SparkSuite {

  test("micro-batched ingestion + shared transform == one-shot batch pipeline") {
    val root   = FixtureGen.generate().toString
    val cp     = Files.createTempDirectory("inc_cp").toString
    val bronze = Files.createTempDirectory("inc_bronze").toString + "/runs"

    var batches = 0
    var corrupt = 0L
    val q = IncrementalRunner.runSummaries(spark, root, cp,
      (r, _) => {
        batches += 1
        r.parsed.write.mode("append").parquet(bronze)
        corrupt += r.corrupt.count()
      },
      maxFilesPerTrigger = 2)
    q.awaitTermination(120000)
    assert(batches > 1, "maxFilesPerTrigger=2 must split the fixture into several micro-batches")

    // silver: cross-batch content dedup (keep-first by filename), then the
    // batch transform, unchanged
    val accumulated = graft.operators.Dedup.keepFirst(
      spark.read.parquet(bronze), Seq("md5"), Seq(col("filename").asc))
    val inc = ObservationTransform.transform(ObservationTransform.flatten(accumulated))

    val batch = MeertrapPipeline.run(spark, root)
    val direct = batch.observation
    // every corrupt file is quarantined in some micro-batch, as in batch
    assert(corrupt === batch.corruptRunSummaries.count())

    def key(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    assert(inc.sb.count() === direct.sb.count())
    assert(inc.obs.count() === direct.obs.count())
    assert(inc.beam.count() === direct.beam.count())
    assert(inc.host.count() === direct.host.count())
    assert(inc.tiling.count() === direct.tiling.count())
    // content equality on the natural columns of the smallest entities
    assert(key(inc.sb.drop("schedule_block_id")) === key(direct.sb.drop("schedule_block_id")))
    assert(key(inc.host) === key(direct.host))
  }
}
