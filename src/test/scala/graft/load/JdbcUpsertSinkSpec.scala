package graft.load

import org.scalatest.funsuite.AnyFunSuite

/** SQL-generation checks for the staging-table upsert sink (no live
  * PostgreSQL exists in this environment — the reference likewise tests its
  * sink only against a CI database service).
  */
class JdbcUpsertSinkSpec extends AnyFunSuite {

  private val obs = Targets.meertrap.find(_.table == "observation").get

  test("merge statement upserts from stage with conflict-skip") {
    val sql = PostgresDialect.mergeSql(obs, Seq("t_min", "t_max", "schedule_block_id"))
    assert(sql ===
      "INSERT INTO observation (t_min, t_max, schedule_block_id) " +
        "SELECT t_min, t_max, schedule_block_id FROM observation__stage " +
        "ON CONFLICT (t_min) DO NOTHING")
  }

  test("key-map query selects natural key + generated id") {
    assert(JdbcUpsertSink.keyMapSql(obs) === "SELECT t_min, observation_id FROM observation")
  }

  test("stage DDL clones the target without identity columns") {
    assert(PostgresDialect.stageSql(obs) ===
      "CREATE TABLE IF NOT EXISTS observation__stage " +
        "(LIKE observation INCLUDING DEFAULTS EXCLUDING IDENTITY)")
  }

  test("targets are declared in FK-dependency order") {
    val order = Targets.meertrap.map(_.table)
    def before(a: String, b: String) = order.indexOf(a) < order.indexOf(b)
    assert(before("schedule_block", "meerkat_schedule_block"))
    assert(before("schedule_block", "observation"))
    assert(before("coherent_beam_config", "observation"))
    assert(before("observation", "beam"))
    assert(before("host", "beam"))
    assert(before("beam", "candidate"))
    assert(before("candidate", "sp_candidate"))
  }
}
