package graft.meertrap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.{Stages, UnexpectedShapeException}
import graft.functions.{Coordinates, TimeFns}
import graft.operators.{AsOf, Dedup, Ids}

/** Candidate-side transform (`meertrap/candidate/transform.py:149-237`):
  * SPCCL rows -> enriched candidates with beam FKs -> sp_candidate rows.
  *
  * The reference's astropy UDFs (MJD, coordinates) are native expressions;
  * its Polars `join_asof` (J9) is the union-and-fill backward as-of join.
  */
object CandidateTransform {

  private def c(n: String): Column = col(s"`$n`")

  /** SPCCL positional names -> dotted target names
    * (`candidate/models.py:83-96`).
    */
  def renameSpccl(raw: DataFrame): DataFrame = raw.select(
    col("filename"),
    col("mjd").as("cand.mjd"),
    col("dm").as("cand.dm"),
    col("width").as("cand.width"),
    col("snr").as("cand.snr"),
    col("beam").as("cand.beam"),
    col("beam_mode").as("cand.beam_mode"),
    col("ra").as("cand.ra"),
    col("dec").as("cand.dec"),
    col("label").as("label"),
    col("probability").as("probability"),
    col("fil_file").as("fil_file"),
    col("plot_file").as("sp_cand.plot_path")
  )

  /** Enrichment (`transform.py:165-197`): candidate_id, coherent flag,
    * observed_at from MJD, coordinates to degrees, "(ra,dec)" position.
    */
  def enrich(cand: DataFrame): DataFrame = {
    // Filenames are unique per candidate row (SPCCL files are single-line;
    // multi-line files are quarantined), so the ids are deterministic.
    Ids.denseId(cand, "candidate_id", Seq(col("filename")))
      .withColumn("cand.coherent", c("cand.beam_mode") === "C")
      .withColumn("cand.observed_at", TimeFns.mjdToTimestamp(c("cand.mjd")))
      .withColumn("cand.ra_deg", Coordinates.hmsToDeg(c("cand.ra")))
      .withColumn("cand.dec_deg", Coordinates.dmsToDeg(c("cand.dec")))
      .drop("cand.mjd", "cand.beam_mode")
      .withColumn("cand.ra", c("cand.ra_deg"))
      .withColumn("cand.dec", c("cand.dec_deg"))
      .drop("cand.ra_deg", "cand.dec_deg")
      .withColumn("cand.pos",
        Coordinates.positionString(c("cand.ra").cast("string"), c("cand.dec").cast("string")))
  }

  /** Beam-id attachment via backward as-of join (J9,
    * `transform.py:107-136`): for each candidate, the latest observation
    * beam with `obs.t_min <= round(observed_at, 1s)` within equal
    * (beam number, coherent) groups. Rounding is half-up to the second —
    * candidates are recorded at ms precision, observations at s precision
    * (reference comment `transform.py:113-119`).
    *
    * Invariants enforced exactly like the reference: candidate count is
    * preserved and no beam_id is null.
    */
  def attachBeamIds(cand: DataFrame, obsBeams: DataFrame): DataFrame = {
    val nCand = cand.count()
    val left = cand.withColumn("cand.observed_at_rounded",
      TimeFns.roundToSecond(c("cand.observed_at")))
      .withColumn("cand.beam_key", c("cand.beam"))
      .withColumn("cand.coherent_key", c("cand.coherent"))
    val right = obsBeams.select(
      c("beam.number").as("cand.beam_key"),
      c("beam.coherent").as("cand.coherent_key"),
      c("obs.t_min"), c("beam_id"))
    // Native sort-merge as-of exec (AsOfJoinPlan); AsOf.joinBackward is the
    // built-ins-only equivalent (spec-verified to agree).
    val joined = AsOf.joinBackwardSortMerge(
      left, right,
      byKeys = Seq("cand.beam_key", "cand.coherent_key"),
      leftTs = "cand.observed_at_rounded",
      rightTs = "obs.t_min",
      rightCols = Seq("beam_id"))
      .drop("cand.beam_key", "cand.coherent_key", "cand.observed_at_rounded",
        "cand.beam", "cand.coherent")
    // Eager cut ([[graft.core.Stages]]): the invariant check and every
    // downstream consumer read the materialized join instead of
    // re-planning the as-of subtree.
    val out = Stages.cut(joined)
    // Both reference invariants from ONE action over the checkpointed
    // frame (row count + null-beam count), not two.
    val stats = out.agg(
      count(lit(1)).as("n"),
      count(when(c("beam_id").isNull, 1)).as("nulls")).head()
    val n = stats.getLong(0)
    if (n != nCand)
      throw new UnexpectedShapeException(
        s"Unexpected number of candidates after join. Expected $nCand, got $n")
    if (stats.getLong(1) > 0)
      throw new UnexpectedShapeException("null beam_id after as-of join")
    out
  }

  /** Keep-first dedup (A1, `transform.py:16-68`): among candidates equal on
    * the 7 attribute keys, keep the earliest-processed (unix timestamp in
    * the filename `<host>_<unix_ts>/<stem>`), deterministically.
    */
  def deduplicate(cand: DataFrame): DataFrame = {
    val processedAt = element_at(
      split(element_at(split(col("filename"), "_"), 2), "/"), 1).cast("long")
    val keys = Seq("cand.dm", "cand.snr", "cand.ra", "cand.dec", "cand.width",
      "cand.observed_at", "beam_id")
    Dedup.keepFirst(
        cand.withColumn("processed_at", processedAt),
        keys, Seq(col("processed_at").asc, col("filename").asc))
      .drop("processed_at")
  }

  /** sp_candidate rows (`transform.py:206-229`): surrogate id + plot path
    * prefixed with the archive root and partition key.
    */
  def spCandidate(cand: DataFrame, fileRoot: String, partitionKey: String): DataFrame = {
    Ids.denseId(cand, "sp_candidate_id", Seq(c("candidate_id")))
      .withColumn("sp_cand.plot_path",
        concat_ws("/", lit(fileRoot), lit(partitionKey), c("sp_cand.plot_path")))
  }

  /** Full candidate transform (`transform.py:230-237`): rename -> enrich ->
    * as-of beam ids -> dedup -> sp_candidate.
    *
    * @param obsBeams observation-side beam frame: `beam.number`,
    *                 `beam.coherent`, `obs.t_min`, `beam_id` per beam row
    *                 (from [[ObservationTransform.Result.beam]] joined with
    *                 observation start times).
    */
  def transform(rawSpccl: DataFrame, obsBeams: DataFrame,
                fileRoot: String = "data", partitionKey: String = ""): DataFrame = {
    val enriched = enrich(renameSpccl(rawSpccl))
    val withBeams = attachBeamIds(enriched, obsBeams)
    spCandidate(deduplicate(withBeams), fileRoot, partitionKey)
  }
}
