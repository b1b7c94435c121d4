package graft.meertrap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Checkpoint, RunSummarySource, SpcclSource}

/** End-to-end MeerTRAP batch pipeline (reference `meertrap/main.py:6-10` +
  * `meertrap/meertrap.py:70-205`): parse -> transform -> (load).
  *
  * Stages are optionally checkpointed to parquet like the reference's
  * `read_or_parse_parquet` (resumability, not just caching).
  */
object MeertrapPipeline {

  final case class Output(
      observation: ObservationTransform.Result,
      candidates: DataFrame,
      corruptRunSummaries: DataFrame,
      quarantinedSpccl: DataFrame)

  /** @param dir          candidate-directory tree (one dir per candidate)
    * @param checkpointDir if set, parse outputs checkpoint here (S5/S6)
    */
  def run(spark: SparkSession, dir: String,
          checkpointDir: Option[String] = None,
          fileRoot: String = "data", partitionKey: String = ""): Output = {
    val runSummaries = RunSummarySource.read(spark, dir)
    val spccl        = SpcclSource.read(spark, dir)

    val flat = checkpointDir match {
      case Some(cp) => Checkpoint.readOrCompute(spark, s"$cp/obs_raw")(
        ObservationTransform.flatten(runSummaries.parsed))
      // No checkpoint: the parse is not materialized on its own. The
      // transform's eager stage boundaries (see the boundary note in
      // ObservationTransform.transform) read it while they materialize;
      // after that only the wide frame (its null-id assertion) re-reads
      // it. Callers that need the parse itself durable pass a checkpoint
      // dir.
      case None => ObservationTransform.flatten(runSummaries.parsed)
    }

    val obsResult = ObservationTransform.transform(flat)

    // Beam frame keyed for the candidate as-of join: beam rows + their
    // observation start times.
    val obsBeams = obsResult.beam.join(
      obsResult.obs.select(col("`obs.t_min`"), col("observation_id")),
      Seq("observation_id"))

    val cands = CandidateTransform.transform(
      spccl.parsed, obsBeams, fileRoot, partitionKey)

    Output(obsResult, cands, runSummaries.corrupt, spccl.quarantined)
  }

  /** The reference's own smoke query (`README.md:50-54`):
    * `SELECT * FROM sp_candidate LIMIT 1` equivalent.
    */
  def firstSpCandidate(out: Output): DataFrame =
    out.candidates.orderBy(col("sp_candidate_id")).limit(1)

  /** Per-run metrics artifact — the numbers behind the reference's Dagster
    * `plot_cand_obs_count` asset (`pipelines/meertrap/assets.py:55-77`:
    * distinct observations + candidate rows per partition run), extended
    * with rows-per-output and the fault-tolerance counters so a scheduler
    * can alert on quarantine spikes. Eager by design: a metrics emission
    * is an action, like the reference's MaterializeResult.
    */
  def metrics(out: Output): Map[String, Long] = {
    def scalar(name: String, df: DataFrame): DataFrame =
      df.select(lit(name).as("metric"), coalesce(col(df.columns.head), lit(0L))
        .cast("long").as("value"))
    // candidates carry beam_id; observation attribution goes through the
    // beam frame (broadcast: beams are dimension-sized)
    val candsPerObs = out.candidates.select(col("beam_id"))
      .join(broadcast(out.observation.beam.select(col("beam_id"), col("observation_id"))),
        Seq("beam_id"))
      .groupBy(col("observation_id"))
      .agg(count(lit(1)).as("n")).agg(max(col("n")))
    // ONE action for all six numbers, each planned over the transform's
    // checkpointed stage boundaries (LogicalRDD leaves), so the union stays
    // a small plan: ~1.4s for ~250 candidate dirs on a 4-core VM, against
    // ~34s when the stages were cached and their plans re-embedded here.
    Seq(
      scalar("num_obs", out.observation.obs.select(col("observation_id"))
        .distinct().agg(count(lit(1)))),
      scalar("num_cands", out.candidates.agg(count(lit(1)))),
      scalar("beams", out.observation.beam.agg(count(lit(1)))),
      scalar("cands_per_obs_max", candsPerObs),
      scalar("corrupt_run_summaries", out.corruptRunSummaries.agg(count(lit(1)))),
      scalar("quarantined_spccl", out.quarantinedSpccl.agg(count(lit(1)))))
      .reduce(_ unionAll _)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }
}
