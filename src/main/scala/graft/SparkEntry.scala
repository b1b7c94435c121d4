package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.{EventQueries, ModelDataQueries, MultimodalQueries, RelationalQueries, TextQueries, VectorQueries, WebQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` carries one entry per implemented operator from SURVEY.md §2
  * (plus the training-data-pipeline extensions); `oracleSql` the DuckDB
  * equivalent where SQL-expressible. Column names are aliased identically on
  * both sides (driver hashes values under sorted column names).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-way join + aggregation — exercises scan, broadcast joins, shuffle
    * agg in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_chain")(spark, "/root/testdata/sf0.001")

  /** Each query is one build ([[graft.core.Frames.owned]]): opening it
    * frees what the previous build persisted and checkpointed, and the
    * returned frame answers any number of actions, and a retry after a
    * failed action, until the next build opens. The caller's session
    * passes through [[Sessions.init]] first — the driver may pass a
    * session it built itself rather than one from [[Sessions.builder]];
    * on a graft session that is a no-op.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registered(RelationalQueries.defs ++ EventQueries.defs ++ TextQueries.all ++
      VectorQueries.defs ++ MultimodalQueries.defs ++ WebQueries.defs ++
      ModelDataQueries.defs)

  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ EventQueries.oracles ++ TextQueries.oracles ++
      VectorQueries.oracles ++ MultimodalQueries.oracles ++ WebQueries.oracles ++
      ModelDataQueries.oracles

  /** Serving-only (gate-free) variants of the gated queries, keyed by the
    * same names as [[queries]] — measurement surface for Bench's
    * serving/gate split; NOT part of the correctness contract.
    */
  def servingQueries: Map[String, (SparkSession, String) => DataFrame] =
    registered(TextQueries.serving ++ VectorQueries.serving ++
      ModelDataQueries.serving ++ WebQueries.serving)

  private def registered(defs: Map[String, (SparkSession, String) => DataFrame]) =
    defs.map { case (name, fn) =>
      name -> ((s: SparkSession, dir: String) =>
        graft.core.Frames.owned(s)(fn(Sessions.init(s), dir)))
    }
}
