package graft.meertrap

import org.apache.spark.sql.functions._
import graft.SparkSuite
import graft.load.Targets
import graft.sources.MeertrapFiles

/** End-to-end pipeline over the generated reference-shaped fixture tree
  * (SURVEY.md §5.2 golden tests + the reference's own runtime invariants).
  */
class MeertrapPipelineSpec extends SparkSuite {

  lazy val root   = FixtureGen.generate()
  lazy val out    = MeertrapPipeline.run(spark, root.toString, None, "data", "2023-11-20")
  private def c(n: String) = col(s"`$n`")

  test("corrupt JSON is quarantined, not fatal") {
    assert(out.corruptRunSummaries.count() === 1)
  }

  test("duplicate run-summary content is deduplicated by hash (S2)") {
    // 6 json files written, 1 corrupt, 1 duplicate -> 4 parsed
    assert(out.observation.wide.select("filename").distinct().count() === 4)
  }

  test("schedule blocks: 2 unique, zero-duration fixed from script (A4)") {
    val sb = out.observation.sb
    assert(sb.count() === 2)
    val sb2 = sb.where(c("mk_sb.meerkat_id") === 79200)
      .select(c("sb.est_end_at").cast("long")).head().getLong(0)
    // 23:00:00 + (200+100)s from script_profile_config = 23:05:00 UTC
    assert(sb2 === 1700521500L)
  }

  test("observations: 3 unique; null utc_stop inferred from next start (W1/A5)") {
    val obs = out.observation.obs
    assert(obs.count() === 3)
    val tMax1 = obs.where(c("obs.t_min").cast("long") === 1700517431L)
      .select(c("obs.t_max").cast("long")).head().getLong(0)
    // least(est_end 22:37:42, next_t_min 22:10:00) = 22:10:00
    assert(tMax1 === 1700518200L)
  }

  test("observation physics + enums (F14/F15)") {
    val row = out.observation.obs
      .select(c("obs.em_min"), c("obs.em_max"), c("obs.pol_states"), c("obs.dataproduct_type"))
      .head()
    assert(math.abs(row.getDouble(0) - 299792458.0 / (1284.0 + 428.0) * 1e6) < 1e-6)
    assert(math.abs(row.getDouble(1) - 299792458.0 / (1284.0 - 428.0) * 1e6) < 1e-6)
    assert(row.getString(2) === "I")
    assert(row.getString(3) === "dynamic spectrum")
  }

  test("schedule-block attachment via interval range join (P5/J10)") {
    val obs = out.observation.obs
    // obs3 (23:05) is inside both SB intervals; first match (lowest id) wins
    // like the reference's first-row semantics.
    assert(obs.where(c("schedule_block_id").isNull).count() === 0)
    assert(obs.where(c("obs.t_min").cast("long") === 1700521500L)
      .select(c("schedule_block_id")).head().getLong(0) === 1L)
  }

  test("beams exploded + deduplicated with hostnames and degrees (N1/N2/F13)") {
    val beams = out.observation.beam
    assert(beams.count() === 6)
    assert(beams.where(c("host.hostname").isNull).count() === 0)
    val b34 = beams.where(c("beam.number") === 34).select(c("beam.ra"), c("beam.dec")).head()
    assert(math.abs(b34.getDouble(0) - 70.07113) < 1e-9)   // 4:40:17.07 hourangle
    assert(math.abs(b34.getDouble(1) - -43.5525) < 1e-9)   // -43:33:09.0
  }

  test("hosts: 3 unique (A3)") {
    assert(out.observation.host.count() === 3)
  }

  test("tilings: one per observation, frequency in MHz, target split (F1/F3)") {
    val t = out.observation.tiling
    assert(t.count() === 3)
    val r = t.select(c("tiling.reference_frequency"), c("tiling.target"), c("tiling.ra")).head()
    assert(r.getDouble(0) === 1284.0)
    assert(r.getString(1) === "J0440-4333")
    assert(math.abs(r.getDouble(2) - 70.07113) < 1e-9)
  }

  test("wide frame has no null ids (reference merge invariant)") {
    // transform() would have thrown otherwise; spot-check shape
    assert(out.observation.wide.count() > 0)
  }

  test("2-line SPCCL file quarantined per-file (S3 invariant)") {
    assert(out.quarantinedSpccl.count() === 1)
    assert(out.quarantinedSpccl.head().getLong(1) === 2L)
  }

  test("malformed numeric cells null the VALUE; CRLF files parse cleanly") {
    import java.nio.file.{Files, Paths}
    val r = FixtureGen.generate().toString
    def write(dir: String, name: String, text: String): Unit = {
      val d = Paths.get(r, dir)
      Files.createDirectories(d)
      Files.writeString(d.resolve(name), text)
    }
    val rec = "1\t60000.5\t100.0\t4.25\t12.5\t7\tC\t04:37:15.99\t-47:15:09.7\t1\t0.9\tf.fil\tp.jpg"
    // dm (pos 2) unparseable; snr (pos 4) fine; CRLF line endings, whose \r
    // must not corrupt the last cell (plot_file).
    write("tpn-bad-1_1700000001", "7777_spccl.log",
      "1\t60000.5\tNOT_A_NUMBER\t4.25\t12.5\t7\tC\t04:37:15.99\t-47:15:09.7\t1\t0.9\tf.fil\tp.jpg\r\n")
    // Line breaks as a text-file CSV scan reads them: CR alone ends a line;
    // empty and whitespace-only lines are not records.
    write("tpn-cr-1_1700000002", "8888_spccl.log", rec + "\r" + rec + "\r")
    write("tpn-blank-1_1700000003", "9999_spccl.log", rec + "\n\n \t\n")
    write("tpn-none-1_1700000004", "6666_spccl.log", "\n \t\n")
    val files = MeertrapFiles.read(spark, r)
    val row = files.spccl.parsed
      .where(col("filename").contains("7777"))
      .select("dm", "snr", "plot_file").collect()
    assert(row.length === 1)                       // scan survived the cell
    assert(row(0).isNullAt(0))                     // dm -> null
    assert(row(0).getDouble(1) === 12.5)           // snr intact
    assert(row(0).getString(2).endsWith("p.jpg"))  // no trailing \r
    val quarantined = files.spccl.quarantined
    val cr = quarantined.where(col("path").contains("8888")).collect()
    assert(cr.map(_.getLong(1)).toSeq === Seq(2L))
    assert(files.spccl.parsed.where(col("filename").contains("8888")).count() === 0)
    val blank = files.spccl.parsed.where(col("filename").contains("9999"))
      .select("snr", "plot_file").collect()
    assert(blank.length === 1)
    assert(blank(0).getDouble(0) === 12.5)
    assert(blank(0).getString(1) === "tpn-blank-1_1700000003/p.jpg")
    assert(quarantined.where(col("path").contains("9999")).count() === 0)
    // A file with no record yields no row, as an empty file does.
    assert(files.spccl.parsed.where(col("filename").contains("6666")).count() === 0)
    assert(quarantined.where(col("path").contains("6666")).count() === 0)
    // Both quarantine frames spell a file's path the same way.
    val corrupt = files.runSummaries.corrupt.head().getString(0)
    Seq(cr(0).getString(0), corrupt).foreach(p => assert(p.startsWith(s"file:$r/"), p))
  }

  test("one scan per partition: both formats split one listing, and no SPCCL plan shuffles") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.window.WindowExec
    val plans = new AdaptiveSparkPlanHelper {}
    // One listing: the run-summary and SPCCL frames read one file index.
    def locations(df: DataFrame) = df.queryExecution.analyzed
      .collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location }
    val rs = locations(out.corruptRunSummaries)
    val sp = locations(out.quarantinedSpccl)
    assert(rs.size === 1 && sp.size === 1)
    assert(rs.head eq sp.head, "the two formats list the partition twice")
    // Counting a file's lines needs no window and no shuffle.
    Seq(out.quarantinedSpccl, MeertrapFiles.read(spark, root.toString).spccl.parsed)
      .foreach { df =>
        val plan = df.queryExecution.executedPlan
        assert(plans.find(plan) {
          case _: WindowExec | _: Exchange => true
          case _                           => false
        }.isEmpty, plan.treeString)
      }
    // The split prunes the listing: the plan `count()` runs over the run
    // summaries reads the fixture's 6 JSON files and no SPCCL file.
    val counted = out.corruptRunSummaries.groupBy().count()
    assert(counted.collect().head.getLong(0) === 1L)
    val scans = plans.collect(counted.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    assert(scans.map(_.metrics("numFiles").value) === Seq(6L))
  }

  test("candidates: as-of beam attach + keep-first dedup (J9/A1)") {
    val cands = out.candidates
    // 5 parsed - 1 dedup = 4
    assert(cands.count() === 4)
    assert(cands.where(c("beam_id").isNull).count() === 0)
    // dedup kept the EARLIER processed candidate (dir ts 1700517451)
    val kept = cands.where(c("cand.dm") === 247.5).select(col("filename")).collect()
    assert(kept.length === 1)
    assert(kept(0).getString(0).startsWith("tpn-0-37_1700517451/"))
  }

  test("as-of matches latest observation within beam group (J9 backward)") {
    val cands   = out.candidates
    val beams   = out.observation.beam
    val obs     = out.observation.obs.select(c("obs.t_min"), col("observation_id"))
    val beamObs = beams.join(obs, "observation_id")
    // incoherent candidate (dm=300) observed during obs2 -> obs2's beam 0,
    // not obs1's (both have an incoherent beam 0).
    val got = cands.where(c("cand.dm") === 300.0)
      .join(beamObs, "beam_id")
      .select(c("obs.t_min").cast("long")).head().getLong(0)
    assert(got === 1700518200L)
  }

  test("as-of rounding edge: candidate 300ms after t_min matches its own obs (F9)") {
    val cands = out.candidates
    val beamObs = out.observation.beam
      .join(out.observation.obs.select(c("obs.t_min"), col("observation_id")), "observation_id")
    val got = cands.where(c("cand.dm") === 247.5)
      .join(beamObs, "beam_id")
      .select(c("obs.t_min").cast("long")).head().getLong(0)
    assert(got === 1700517431L)
  }

  test("sp_candidate plot paths prefixed with root/partition (F4)") {
    val p = out.candidates.where(c("cand.dm") === 247.5)
      .select(c("sp_cand.plot_path")).head().getString(0)
    assert(p === "data/2023-11-20/tpn-0-37_1700517451/plot_34C.jpg")
  }

  test("reference smoke query: first sp_candidate (README.md:53)") {
    val first = MeertrapPipeline.firstSpCandidate(out)
    assert(first.count() === 1)
    assert(first.select(c("sp_candidate_id")).head().getLong(0) === 1L)
  }

  test("target views slice by prefix with stripped names (P2)") {
    val obsView = Targets.targetView(out.observation.obs, Targets.meertrap.find(_.table == "observation").get)
    assert(obsView.columns.contains("t_min"))
    assert(obsView.columns.contains("observation_id"))
    assert(obsView.columns.contains("schedule_block_id"))
    assert(!obsView.columns.exists(_.startsWith("obs.")))
    assert(obsView.count() === 3)

    val candView = Targets.targetView(out.candidates, Targets.meertrap.find(_.table == "candidate").get)
    // NOTE: no `coherent` — the reference drops cand.coherent after the
    // as-of join (`candidate/transform.py:130-135`).
    assert(candView.columns.sorted.toSeq ===
      Seq("beam_id", "candidate_id", "dec", "dm", "observed_at",
        "pos", "ra", "snr", "width"))
  }

  test("candidate path: no single-partition window over unaggregated rows (W2 at scale)") {
    // VERDICT r2 #1: surrogate ids on the fact-table path must not funnel
    // the frame through one partition. The only global windows allowed are
    // (a) over an Aggregate (the denseId partition-count prefix sum, ≤
    // numPartitions rows) or (b) on frames small by construction (sb,
    // host, cbConfig — not on this path).
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, UnaryNode, Window => LWin}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.util.QueryExecutionListener
    // "Over an Aggregate" means the window's own input chain reaches one
    // before any join or leaf — an Aggregate in some other join branch
    // (cbConfig's dropDuplicates, a denseId prefix sum) bounds nothing.
    def overAggregate(p: LogicalPlan): Boolean = p match {
      case _: Aggregate => true
      case u: UnaryNode => overAggregate(u.child)
      case _            => false
    }
    def offenders(plan: LogicalPlan) = plan.collect {
      case w: LWin if w.partitionSpec.isEmpty && !overAggregate(w.child) => w
    }
    // Negative control: the audit flags a global row_number over raw rows.
    val raw = spark.range(10).toDF("v")
    assert(offenders(raw.withColumn("rn", row_number().over(Window.orderBy("v")))
      .queryExecution.optimizedPlan).nonEmpty)

    // The stage boundaries are eager localCheckpoints, so the output
    // frames plan over LogicalRDD leaves; the stage bodies (obsDf, beamDf,
    // the candidate enrich + as-of join, the obsUniq dedup) are audited as
    // the plans those boundaries materialize, captured from a fresh run.
    val materialized = java.util.Collections.synchronizedList(
      new java.util.ArrayList[LogicalPlan]())
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") materialized.add(qe.optimizedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val fresh =
      try {
        val o = MeertrapPipeline.run(spark, root.toString, None, "data", "2023-11-20")
        org.apache.spark.GraftSparkShim.drainListenerBus(spark.sparkContext)
        o
      } finally spark.listenerManager.unregister(listener)
    val stages = materialized.asScala.toList
    // sb, obsUniq, obs, beams, the candidate as-of join
    assert(stages.size === 5, s"expected 5 stage boundaries, got ${stages.size}")
    // sb carries the schedule-block window, bounded by construction (b)
    val (sbStage, rest) = stages.partition(_.output.exists(_.name == "meerkat_schedule_block_id"))
    assert(sbStage.size === 1)
    rest.foreach(p => assert(offenders(p).isEmpty, p.treeString))
    // Frames planned over those leaves: tilingDf, the hosts join, and the
    // candidate dedup + sp_candidate ids.
    Seq(fresh.observation.tiling, fresh.observation.beam, fresh.candidates)
      .foreach(df => assert(offenders(df.queryExecution.optimizedPlan).isEmpty))
  }

  test("DataFrame contract: every output frame answers a second action") {
    // The stage boundaries are reusable, not single-use: count then
    // collect on each frame must agree.
    val r = out.observation
    Seq("wide" -> r.wide, "sb" -> r.sb, "obs" -> r.obs, "cbConfig" -> r.cbConfig,
        "tiling" -> r.tiling, "beam" -> r.beam, "host" -> r.host,
        "candidates" -> out.candidates, "corruptRunSummaries" -> out.corruptRunSummaries,
        "quarantinedSpccl" -> out.quarantinedSpccl)
      .foreach { case (name, df) =>
        val n = df.count()
        assert(df.collect().length.toLong === n, name)
      }
  }

  test("idempotency: re-running the transform yields identical entity counts") {
    val out2 = MeertrapPipeline.run(spark, root.toString, None, "data", "2023-11-20")
    assert(out2.observation.sb.count() === 2)
    assert(out2.observation.obs.count() === 3)
    assert(out2.observation.beam.count() === 6)
    assert(out2.candidates.count() === 4)
  }
}
