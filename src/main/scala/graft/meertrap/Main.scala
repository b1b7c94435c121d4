package graft.meertrap

import org.apache.spark.sql.SparkSession

/** Standalone job entry point for the MeerTRAP pipeline — the reference's
  * `meertrap/main.py:6-10` CLI (parse → transform → write), parameterized
  * by the Dagster-style daily partition key
  * (`pipelines/meertrap/assets.py:20-33`).
  *
  * Usage:
  *   graft.meertrap.Main --input DIR [--partition-key KEY]
  *     [--checkpoint DIR] [--out DIR]
  *
  * `--partition-key` narrows the scan to `DIR/KEY` when that subdirectory
  * exists (the reference's per-day layout) and is stamped into candidate
  * file paths either way; `--checkpoint` makes the parse resumable, and
  * a checkpoint dir serves only the scan, partition key and file root
  * that built it (another run against it fails); `--out` writes each
  * result frame as parquet under `OUT/<name>`; without it the job prints
  * row counts (the smoke behavior of the reference's main).
  */
object Main {

  final case class Args(input: String, partitionKey: String = "",
                        checkpoint: Option[String] = None,
                        out: Option[String] = None)

  def parse(argv: Array[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case "--input" :: v :: t         => loop(t, acc.copy(input = v))
      case "--partition-key" :: v :: t => loop(t, acc.copy(partitionKey = v))
      case "--checkpoint" :: v :: t    => loop(t, acc.copy(checkpoint = Some(v)))
      case "--out" :: v :: t           => loop(t, acc.copy(out = Some(v)))
      case Nil                         => acc
      case other :: _ => sys.error(s"unknown argument: $other " +
        "(expected --input DIR [--partition-key KEY] [--checkpoint DIR] [--out DIR])")
    }
    val a = loop(argv.toList, Args(input = null))
    require(a.input != null, "--input DIR is required")
    a
  }

  /** Testable body — the spec drives this with the suite's session. */
  def run(spark: SparkSession, a: Args): MeertrapPipeline.Output = {
    val dir =
      if (a.partitionKey.isEmpty) a.input
      else {
        val partitioned = new org.apache.hadoop.fs.Path(a.input, a.partitionKey)
        val fs = partitioned.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(partitioned)) partitioned.toString else a.input
      }
    val out = MeertrapPipeline.run(spark, dir, a.checkpoint,
      partitionKey = a.partitionKey)
    a.out match {
      case Some(root) =>
        out.observation.obs.write.mode("overwrite").parquet(s"$root/observation")
        out.observation.beam.write.mode("overwrite").parquet(s"$root/beam")
        out.candidates.write.mode("overwrite").parquet(s"$root/candidate")
        out.corruptRunSummaries.write.mode("overwrite").parquet(s"$root/corrupt_run_summaries")
        out.quarantinedSpccl.write.mode("overwrite").parquet(s"$root/quarantined_spccl")
      case None => ()
    }
    // Per-run metrics emission on BOTH paths — the CLI analogue of the
    // reference's per-partition metrics asset (assets.py:55-77).
    val m = MeertrapPipeline.metrics(out)
    println("[meertrap-metrics] " +
      m.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))
    out
  }

  def main(argv: Array[String]): Unit = {
    val spark = graft.Sessions.init(
      graft.Sessions.builder("local[*]", 32).appName("meertrap-etl").getOrCreate())
    try run(spark, parse(argv)) finally spark.stop()
  }
}
