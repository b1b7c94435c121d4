package graft.meertrap

import graft.Sessions

/** Manual driver for the MeerTRAP pipeline over the generated fixture tree:
  * `sbt "Test/runMain graft.meertrap.PipelineDemo"`. Prints the entity
  * summary + the reference's smoke query (first sp_candidate).
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.init(Sessions.builder("local[4]", 4).getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val root = if (args.nonEmpty) args(0) else FixtureGen.generate().toString
    val out  = MeertrapPipeline.run(spark, root, None, "data", "2023-11-20")
    println(s"schedule_blocks=${out.observation.sb.count()}")
    println(s"observations=${out.observation.obs.count()}")
    println(s"beams=${out.observation.beam.count()}")
    println(s"hosts=${out.observation.host.count()}")
    println(s"tilings=${out.observation.tiling.count()}")
    println(s"candidates=${out.candidates.count()}")
    println(s"corrupt_run_summaries=${out.corruptRunSummaries.count()}")
    println(s"quarantined_spccl=${out.quarantinedSpccl.count()}")
    println("first sp_candidate:")
    MeertrapPipeline.firstSpCandidate(out).show(truncate = false)

    // SQL-registered codegen'd coordinate functions
    println("sql coord functions:")
    spark.sql("SELECT hms_to_deg('4:40:17.07') AS ra_deg, dms_to_deg('-43:33:09.0') AS dec_deg")
      .show()

    // incremental streaming ingestion over the same tree
    val cp = java.nio.file.Files.createTempDirectory("demo_cp").toString
    var streamed = 0L
    val q = graft.streaming.IncrementalRunner.runSummaries(spark, root, cp,
      (b, _) => streamed += b.count())
    q.awaitTermination(120000)
    println(s"streamed_run_summaries=$streamed")
    spark.stop()
  }
}
