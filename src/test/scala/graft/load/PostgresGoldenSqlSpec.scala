package graft.load

import org.scalatest.funsuite.AnyFunSuite

/** GOLDEN-STRING pins for every statement the PostgreSQL dialect would run
  * in production. No live PostgreSQL exists in this environment (the
  * reference itself only tests its sink against a CI database service), so
  * the generated SQL for all 12 targets is pinned verbatim — a dialect
  * regression cannot hide behind the Derby integration path.
  *
  * Columns passed to mergeSql mirror the staged view: natural key + FKs +
  * primary key (the canonical shape `Targets.targetView` stages).
  */
class PostgresGoldenSqlSpec extends AnyFunSuite {

  private val all = Targets.meertrap ++ Targets.atnf
  private def cols(t: TargetInfo): Seq[String] =
    (t.uniqueConstraint ++ t.foreignKeys :+ t.primaryKey).distinct

  private val goldenMerge = Map(
    "schedule_block" ->
      ("INSERT INTO schedule_block (start_at, est_end_at, schedule_block_id) " +
        "SELECT start_at, est_end_at, schedule_block_id FROM schedule_block__stage " +
        "ON CONFLICT (start_at, est_end_at) DO NOTHING"),
    "meerkat_schedule_block" ->
      ("INSERT INTO meerkat_schedule_block (meerkat_id, schedule_block_id, meerkat_schedule_block_id) " +
        "SELECT meerkat_id, schedule_block_id, meerkat_schedule_block_id FROM meerkat_schedule_block__stage " +
        "ON CONFLICT (meerkat_id) DO NOTHING"),
    "host" ->
      ("INSERT INTO host (ip_address, hostname, port, host_id) " +
        "SELECT ip_address, hostname, port, host_id FROM host__stage " +
        "ON CONFLICT (ip_address, hostname, port) DO NOTHING"),
    "coherent_beam_config" ->
      ("INSERT INTO coherent_beam_config (angle, fraction_overlap, x, y, coherent_beam_config_id) " +
        "SELECT angle, fraction_overlap, x, y, coherent_beam_config_id FROM coherent_beam_config__stage " +
        "ON CONFLICT (angle, fraction_overlap, x, y) DO NOTHING"),
    "observation" ->
      ("INSERT INTO observation (t_min, schedule_block_id, coherent_beam_config_id, observation_id) " +
        "SELECT t_min, schedule_block_id, coherent_beam_config_id, observation_id FROM observation__stage " +
        "ON CONFLICT (t_min) DO NOTHING"),
    "tiling_config" ->
      ("INSERT INTO tiling_config (epoch, method, nbeams, observation_id, tiling_config_id) " +
        "SELECT epoch, method, nbeams, observation_id, tiling_config_id FROM tiling_config__stage " +
        "ON CONFLICT (epoch, method, nbeams) DO NOTHING"),
    "beam" ->
      ("INSERT INTO beam (number, coherent, ra, dec, observation_id, host_id, beam_id) " +
        "SELECT number, coherent, ra, dec, observation_id, host_id, beam_id FROM beam__stage " +
        "ON CONFLICT (number, coherent, ra, dec) DO NOTHING"),
    "candidate" ->
      ("INSERT INTO candidate (dm, snr, ra, dec, observed_at, beam_id, candidate_id) " +
        "SELECT dm, snr, ra, dec, observed_at, beam_id, candidate_id FROM candidate__stage " +
        "ON CONFLICT (dm, snr, ra, dec, observed_at) DO NOTHING"),
    "sp_candidate" ->
      ("INSERT INTO sp_candidate (plot_path, candidate_id, sp_candidate_id) " +
        "SELECT plot_path, candidate_id, sp_candidate_id FROM sp_candidate__stage " +
        "ON CONFLICT (plot_path) DO NOTHING"),
    "catalogue" ->
      ("INSERT INTO catalogue (name, catalogue_id) " +
        "SELECT name, catalogue_id FROM catalogue__stage " +
        "ON CONFLICT (name) DO NOTHING"),
    "catalogue_visit" ->
      ("INSERT INTO catalogue_visit (visited_at, catalogue_id, catalogue_visit_id) " +
        "SELECT visited_at, catalogue_id, catalogue_visit_id FROM catalogue_visit__stage " +
        "ON CONFLICT (visited_at) DO NOTHING"),
    "known_pulsar" ->
      ("INSERT INTO known_pulsar (name, catalogue_id, known_pulsar_id) " +
        "SELECT name, catalogue_id, known_pulsar_id FROM known_pulsar__stage " +
        "ON CONFLICT (name) DO NOTHING")
  )

  private val goldenKeyMap = Map(
    "schedule_block"         -> "SELECT start_at, est_end_at, schedule_block_id FROM schedule_block",
    "meerkat_schedule_block" -> "SELECT meerkat_id, meerkat_schedule_block_id FROM meerkat_schedule_block",
    "host"                   -> "SELECT ip_address, hostname, port, host_id FROM host",
    "coherent_beam_config"   -> "SELECT angle, fraction_overlap, x, y, coherent_beam_config_id FROM coherent_beam_config",
    "observation"            -> "SELECT t_min, observation_id FROM observation",
    "tiling_config"          -> "SELECT epoch, method, nbeams, tiling_config_id FROM tiling_config",
    "beam"                   -> "SELECT number, coherent, ra, dec, beam_id FROM beam",
    "candidate"              -> "SELECT dm, snr, ra, dec, observed_at, candidate_id FROM candidate",
    "sp_candidate"           -> "SELECT plot_path, sp_candidate_id FROM sp_candidate",
    "catalogue"              -> "SELECT name, catalogue_id FROM catalogue",
    "catalogue_visit"        -> "SELECT visited_at, catalogue_visit_id FROM catalogue_visit",
    "known_pulsar"           -> "SELECT name, known_pulsar_id FROM known_pulsar"
  )

  test("every target's Postgres merge statement matches its golden string") {
    assert(all.map(_.table).toSet === goldenMerge.keySet)
    all.foreach { t =>
      assert(PostgresDialect.mergeSql(t, cols(t)) === goldenMerge(t.table), t.table)
    }
  }

  test("every target's key-map query matches its golden string") {
    all.foreach { t =>
      assert(JdbcUpsertSink.keyMapSql(t) === goldenKeyMap(t.table), t.table)
    }
  }

  test("stage DDL and truncate are the Postgres forms") {
    val cand = Targets.meertrap.find(_.table == "candidate").get
    assert(PostgresDialect.stageSql(cand) ===
      "CREATE TABLE IF NOT EXISTS candidate__stage " +
        "(LIKE candidate INCLUDING DEFAULTS EXCLUDING IDENTITY)")
    assert(PostgresDialect.truncateSql(cand) === "TRUNCATE candidate__stage")
  }

  test("compensation SQL: composite-key snapshot and stage-minus-pre delete") {
    val host = Targets.meertrap.find(_.table == "host").get
    assert(JdbcUpsertSink.preSnapshotSql(host) === Seq(
      "CREATE TABLE host__pre AS SELECT ip_address, hostname, port FROM host WITH NO DATA",
      "INSERT INTO host__pre SELECT ip_address, hostname, port FROM host"))
    assert(JdbcUpsertSink.compensateSql(host) ===
      "DELETE FROM host WHERE EXISTS " +
        "(SELECT 1 FROM host__stage s WHERE s.ip_address = host.ip_address " +
        "AND s.hostname = host.hostname AND s.port = host.port) " +
        "AND NOT EXISTS (SELECT 1 FROM host__pre p WHERE p.ip_address = host.ip_address " +
        "AND p.hostname = host.hostname AND p.port = host.port)")
  }

  test("target order is a valid FK topological order (parents before children)") {
    // FK remap during load resolves each child FK from an ALREADY-loaded
    // target's key-map; a mis-ordered list would remap against nothing.
    def check(ts: Seq[TargetInfo]): Unit =
      ts.zipWithIndex.foreach { case (t, i) =>
        t.foreignKeys.foreach { fk =>
          assert(ts.take(i).exists(_.primaryKey == fk),
            s"${t.table}.$fk has no earlier parent target")
        }
      }
    check(Targets.meertrap)
    check(Targets.atnf)
  }
}
