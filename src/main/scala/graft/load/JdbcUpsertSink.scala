package graft.load

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.KeyMap

/** Idempotent relational sink with conflict handling and FK propagation —
  * the Spark redesign of the reference's `core/insert.py:26-119` +
  * `core/database_loader.py:126-189` + `meertrap/meertrap.py:147-205`.
  *
  * The reference's per-row `INSERT ... RETURNING` / `ON CONFLICT DO NOTHING`
  * CTEs are inherently driver-side; `df.write.jdbc` cannot return generated
  * ids. The scalable redesign:
  *
  *   1. stage the target view to `<table>__stage` via parallel JDBC writes
  *      (executors write, no driver bottleneck),
  *   2. one server-side statement per target merges stage -> target with
  *      `ON CONFLICT (unique_constraint) DO NOTHING`,
  *   3. re-select `(natural key -> id)` from the target (covers both fresh
  *      inserts and pre-existing conflict rows — same semantics as the
  *      reference's insert-returning UNION select, `insert.py:95-110`),
  *   4. broadcast-join that key-map to remap FKs on child frames
  *      ([[KeyMap.remap]] — the reference's dict remap F16), then recurse in
  *      FK-dependency order.
  *
  * Idempotency: re-running never duplicates rows (conflict-skip) and always
  * re-derives the same key-map (natural-key lookup).
  *
  * SQL generation is separated from execution so the statements are unit
  * -testable without a live PostgreSQL (none exists in this environment; the
  * reference's own CI-only integration tests are the analogue,
  * `.gitlab-ci.yml:63-68`).
  */
/** Target-database dialect: stage DDL and the conflict-skipping merge
  * differ per engine. PostgreSQL is the production dialect (the reference's
  * target DB); Derby exists so the FULL load path — executor stage writes,
  * server-side merge, key-map read-back, FK remap, idempotent re-run — is
  * integration-tested in-JVM with Spark's bundled embedded Derby (no
  * PostgreSQL exists in this environment; the reference likewise tests its
  * sink only against a CI database service).
  */
sealed trait SinkDialect {
  def mergeSql(t: TargetInfo, columns: Seq[String]): String
  def truncateSql(t: TargetInfo): String = s"TRUNCATE TABLE ${t.table}__stage"
  /** Create the stage table if absent (engines disagree on IF NOT EXISTS). */
  def createStage(conn: java.sql.Connection, t: TargetInfo): Unit
}

object PostgresDialect extends SinkDialect {
  /** `ON CONFLICT DO NOTHING` skips conflicts ROW-BY-ROW (duplicate natural
    * keys inside one stage batch are tolerated).
    */
  override def mergeSql(t: TargetInfo, columns: Seq[String]): String = {
    val cols = columns.mkString(", ")
    val conflict = t.uniqueConstraint.mkString(", ")
    s"INSERT INTO ${t.table} ($cols) " +
      s"SELECT $cols FROM ${t.table}__stage " +
      s"ON CONFLICT ($conflict) DO NOTHING"
  }
  /** Stage-table DDL (mirrors the target minus identity columns). */
  def stageSql(t: TargetInfo): String =
    s"CREATE TABLE IF NOT EXISTS ${t.table}__stage " +
      s"(LIKE ${t.table} INCLUDING DEFAULTS EXCLUDING IDENTITY)"
  override def createStage(conn: java.sql.Connection, t: TargetInfo): Unit =
    conn.createStatement().execute(stageSql(t))
  override def truncateSql(t: TargetInfo): String = s"TRUNCATE ${t.table}__stage"
}

object DerbyDialect extends SinkDialect {
  /** Standard `MERGE ... WHEN NOT MATCHED THEN INSERT`. Unlike Postgres
    * ON CONFLICT, duplicate natural keys within one stage batch would both
    * try to insert — callers stage entity-deduped views (targetView does).
    */
  override def mergeSql(t: TargetInfo, columns: Seq[String]): String = {
    val on = t.uniqueConstraint.map(k => s"t.$k = s.$k").mkString(" AND ")
    val cols = columns.mkString(", ")
    val vals = columns.map(c => s"s.$c").mkString(", ")
    s"MERGE INTO ${t.table} t USING ${t.table}__stage s ON ($on) " +
      s"WHEN NOT MATCHED THEN INSERT ($cols) VALUES ($vals)"
  }
  override def createStage(conn: java.sql.Connection, t: TargetInfo): Unit =
    try conn.createStatement().execute(
      s"CREATE TABLE ${t.table}__stage AS SELECT * FROM ${t.table} WITH NO DATA")
    catch {
      case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
    }
}

object JdbcUpsertSink {

  /** Key-map query for step 3: natural key columns + generated id. */
  def keyMapSql(t: TargetInfo): String = {
    val nk = t.uniqueConstraint.mkString(", ")
    s"SELECT $nk, ${t.primaryKey} FROM ${t.table}"
  }

  /** Execute the full ordered load over JDBC. Driver-side coordination,
    * executor-side data movement.
    *
    * Transaction discipline: a driver transaction must NEVER span a Spark
    * job. The stage `TRUNCATE` holds an ACCESS EXCLUSIVE lock on the stage
    * table until commit, so executors' `INSERT`s (separate connections)
    * would block forever; and a key-map `SELECT` on fresh connections cannot
    * see rows merged inside an uncommitted driver transaction — FK remap
    * would silently pass run-local ids through. The driver connection
    * therefore runs in autocommit: stage DDL + TRUNCATE commit before the
    * executors write, and the merge — a SINGLE `INSERT ... ON CONFLICT`
    * statement, atomic on its own — commits before the key-map read.
    *
    * The reference's all-or-nothing outer transaction (S10,
    * `meertrap/meertrap.py:169-199`) is replaced by idempotent per-target
    * commits: a failure mid-load leaves earlier targets committed, and a
    * re-run converges (conflict-skip never duplicates; the key-map is
    * re-derived from natural keys, covering rows inserted by any prior run).
    */
  def load(
      spark: SparkSession,
      jdbcUrl: String,
      props: java.util.Properties,
      targets: Seq[(TargetInfo, DataFrame)],
      dialect: SinkDialect = PostgresDialect
  ): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
    conn.setAutoCommit(true)
    try {
      var keyMaps = Map.empty[String, DataFrame]
      targets.foreach { case (t, view0) =>
        keyMaps += t.table -> loadOne(spark, jdbcUrl, props, conn, dialect,
          t, view0, keyMaps)
      }
    } finally conn.close()
  }

  /** Load one target (stages, merges, reads back the key-map) and return
    * its (local_id -> db_id) key-map frame. Shared by [[load]] and
    * [[loadAllOrNothing]].
    */
  private def loadOne(
      spark: SparkSession, jdbcUrl: String, props: java.util.Properties,
      conn: java.sql.Connection, dialect: SinkDialect,
      t: TargetInfo, view0: DataFrame,
      keyMaps: Map[String, DataFrame]): DataFrame = {
    // FK propagation: remap any FK whose parent already loaded, from
    // run-local ids to DB ids — reference F16
    // (`core/database_loader.py:182-189`), as a broadcast join.
    val view = t.foreignKeys.foldLeft(view0) { (acc, fk) =>
      keyMaps.get(fk.stripSuffix("_id")) match {
        case Some(km) => KeyMap.remap(acc, fk, km, "local_id", "db_id")
        case None     => acc
      }
    }
    // 1+2. Stage DDL + TRUNCATE, each committed immediately so no lock
    //      outlives this statement.
    dialect.createStage(conn, t)
    conn.createStatement().execute(dialect.truncateSql(t))
    // 3. Executors write stage rows on their own autocommitted
    //    connections (parallel, unblocked).
    SinkIntegrityException.translate(t.table) {
      view.write.mode("append").jdbc(jdbcUrl, s"${t.table}__stage", props)
    }
    // 4. Single-statement merge: atomic by itself, committed here. On
    //    failure nothing reached the target; stale stage rows are
    //    truncated by the next run. Integrity failures surface as the
    //    typed contract (unique / FK / other-23) like the reference's
    //    error mapping (`core/insert.py:34-73`).
    SinkIntegrityException.translate(t.table) {
      conn.createStatement().execute(dialect.mergeSql(t, view.columns.toSeq))
    }
    // 5. Natural-key -> id map read back through Spark (distributed
    //    read) — sees the committed merge, including fresh inserts.
    val km = spark.read.jdbc(jdbcUrl, s"(${keyMapSql(t)}) AS km", props)
    val local = view.select(
      (t.uniqueConstraint.map(n => col(s"`$n`")) :+ col(s"`${t.primaryKey}`").as("local_id")): _*)
    local.join(km, t.uniqueConstraint)
      .select(col("local_id"), col(s"`${t.primaryKey}`").as("db_id"))
  }

  private def preTable(t: TargetInfo) = s"${t.table}__pre"

  /** Durable success record for [[loadAllOrNothing]] — see the Scaladoc.
    * One marker per database under the SINGLE-WRITER assumption the whole
    * compensation scheme already requires.
    */
  val markerTable = "graft__load_ok"

  /** SQL for the compensation scheme of [[loadAllOrNothing]]: snapshot the
    * natural keys that existed BEFORE the merge, and the reverse-order
    * delete of rows this run inserted (in stage, not in the snapshot).
    * Pure server-side set operations — no per-row driver traffic, scales
    * with the database, works on both dialects (correlated EXISTS).
    */
  def preSnapshotSql(t: TargetInfo): Seq[String] = {
    val nk = t.uniqueConstraint.mkString(", ")
    Seq(
      s"CREATE TABLE ${preTable(t)} AS SELECT $nk FROM ${t.table} WITH NO DATA",
      s"INSERT INTO ${preTable(t)} SELECT $nk FROM ${t.table}")
  }

  def compensateSql(t: TargetInfo): String = {
    def corr(alias: String) =
      t.uniqueConstraint.map(k => s"$alias.$k = ${t.table}.$k").mkString(" AND ")
    s"DELETE FROM ${t.table} WHERE EXISTS " +
      s"(SELECT 1 FROM ${t.table}__stage s WHERE ${corr("s")}) " +
      s"AND NOT EXISTS (SELECT 1 FROM ${preTable(t)} p WHERE ${corr("p")})"
  }

  /** Multi-target load with the reference's all-or-nothing guarantee (S10,
    * `meertrap/meertrap.py:169-199`, nested savepoints) — WITHOUT holding a
    * driver transaction across Spark jobs (which deadlocks the stage writes
    * and blinds the key-map read; see [[load]]'s transaction discipline).
    *
    * Scheme: before each target's merge, snapshot its existing natural keys
    * server-side (`<table>__pre`). If any later target fails, compensate in
    * REVERSE FK order: delete exactly the rows this run inserted — present
    * in the run's stage table but absent from the pre-snapshot — one
    * server-side statement per target, then rethrow. Children delete before
    * parents, so FK constraints hold throughout the rollback. The window
    * where a concurrent reader sees a partial load exists (unlike a true
    * transaction) — the trade for never blocking distributed writes; the
    * reference's own guarantee is equally post-hoc for its bulk path.
    *
    * CRASH WINDOW: if the DRIVER dies between a committed merge and the
    * compensation (power loss, OOM-kill — not an exception, which the
    * catch below handles), the partial load persists until the next run.
    * The leftover `__pre`/`__stage` pair is the durable record of that
    * state, so startup runs compensate-then-drop over any such pair
    * (children first) BEFORE loading — never drop-only, which would
    * fossilize the partial load as committed data.
    *
    * SUCCESS MARKER: the pair alone is AMBIGUOUS — a driver death during
    * the success-path cleanup would leave the same pairs, and compensating
    * them would delete rows of a fully COMMITTED load (and only for the
    * targets whose cleanup hadn't run: a partial rollback, the exact
    * violation this method exists to prevent). So the transition from
    * "in-flight" to "succeeded" is one atomic statement: after ALL merges
    * commit, `CREATE TABLE graft__load_ok` is the durable success record.
    * Startup that finds the marker knows every leftover pair belongs to a
    * successful run and cleans up (truncate stage, drop snapshot) instead
    * of compensating — discovering the pairs from CATALOG METADATA rather
    * than this call's target list, because the marked run may have loaded
    * a different target set; without it, pairs mean an in-flight death and
    * are compensated. A death after the last merge but BEFORE the marker rolls
    * the whole run back consistently (every pair is present) — still
    * all-or-nothing, converging on re-run. Cleanup order (truncate stage,
    * then drop pre, marker dropped last) keeps every intermediate state
    * recoverable: a pre with an empty stage compensates to a no-op.
    *
    * SINGLE-WRITER assumption (same as the reference's Dagster-serialized
    * runs): compensation identifies "rows this run inserted" by natural
    * key (stage minus pre-snapshot). A CONCURRENT writer inserting the
    * same natural keys between merge and compensation would lose its rows
    * to our delete — serialize writers per target table (advisory lock,
    * scheduler) if that topology ever appears.
    */
  def loadAllOrNothing(
      spark: SparkSession,
      jdbcUrl: String,
      props: java.util.Properties,
      targets: Seq[(TargetInfo, DataFrame)],
      dialect: SinkDialect = PostgresDialect
  ): Unit = {
    val conn = java.sql.DriverManager.getConnection(jdbcUrl, props)
    conn.setAutoCommit(true)
    // Cleanup statements tolerate ONLY does-not-exist (PG 42P01; Derby
    // 42X05 missing table in DML, 42Y55 drop of a missing table). Any
    // OTHER failure — lock held, permissions — must PROPAGATE: swallowing
    // it and then dropping the marker would leave a committed run's pair
    // marker-less, and a later run would compensate fully committed rows
    // away. Keeping the marker keeps the cleanup retryable.
    def missingTable(e: java.sql.SQLException): Boolean = {
      val s = e.getSQLState
      s == "42P01" || s == "42X05" || s == "42Y55"
    }
    // Statements CLOSE deterministically: leaving them to GC keeps their
    // ResultSets open on the shared connection, and Derby then refuses
    // `DROP TABLE X__pre` while an earlier exists(X__pre) probe's open
    // ResultSet still depends on the table — a load-dependent flake.
    def execSql(sql: String): Unit = {
      val st = conn.createStatement()
      try st.execute(sql) finally st.close()
    }
    def dropPre(t: TargetInfo): Unit =
      try execSql(s"DROP TABLE ${preTable(t)}")
      catch { case e: java.sql.SQLException if missingTable(e) => () }
    def exists(table: String): Boolean = {
      val st = conn.createStatement()
      try { st.executeQuery(s"SELECT 1 FROM $table WHERE 1=0").close(); true }
      catch { case _: java.sql.SQLException => false }
      finally st.close()
    }
    def truncateStage(t: TargetInfo): Unit =
      try execSql(dialect.truncateSql(t))
      catch { case e: java.sql.SQLException if missingTable(e) => () } // stage may not exist
    def dropMarker(): Unit =
      try execSql(s"DROP TABLE $markerTable")
      catch { case _: java.sql.SQLException => () } // marker survives: retried next run
    // Neutralize-then-drop: once a target's stage is empty, its leftover
    // snapshot can never compensate anything away (delete matches stage
    // rows) — every intermediate state of this cleanup is safe to re-run.
    def cleanupPair(t: TargetInfo): Unit = { truncateStage(t); dropPre(t) }
    // Crash recovery. The success marker disambiguates leftover pairs:
    //  - marker present: the prior run COMMITTED everything and died during
    //    cleanup — finish the cleanup, compensate nothing. The marked
    //    run's TARGET SET may differ from this call's (single-writer does
    //    not imply single target-set per database), so the pairs to clean
    //    are DISCOVERED from catalog metadata (every `*__pre` table), not
    //    taken from `targets`: cleaning only this call's pairs would leave
    //    the other run's pairs marker-less, and a later run covering them
    //    would compensate fully committed rows away. Cleanup is
    //    neutralize-then-drop per pair, order-independent — safe without
    //    knowing the other run's FK order.
    //  - no marker: a pair means the prior run died after a committed merge
    //    but before compensating. Compensate (children first — reverse FK
    //    order) and only then drop the snapshot; a __pre without its stage
    //    never merged, so dropping it is enough. Compensation needs the
    //    run's FK ORDER, so this branch covers this call's targets — a
    //    mid-flight crash of a DIFFERENT target set must be recovered by a
    //    run of that same target set (documented single-writer contract).
    if (exists(markerTable)) {
      // Scan only the CONNECTION'S CURRENT SCHEMA: a null-schema scan can
      // discover a `__pre` in a schema the unqualified DELETE/DROP below
      // cannot reach, which would fail forever (and formerly was swallowed,
      // losing the marker). getSchema may be null on exotic drivers — then
      // the unscoped scan is the best available, and failures propagate.
      val md = conn.getMetaData.getTables(null, conn.getSchema, "%", Array("TABLE"))
      val pres = scala.collection.mutable.ListBuffer.empty[String]
      try while (md.next()) {
        val n = md.getString("TABLE_NAME")
        if (n != null && n.toLowerCase.endsWith("__pre")) pres += n
      } finally md.close()
      pres.foreach { pre =>
        val base = pre.substring(0, pre.length - "__pre".length)
        // dialect-free neutralize (stage is small post-success); stage may
        // already be gone — both statements are individually safe to re-run
        try execSql(s"DELETE FROM ${base}__stage")
        catch { case e: java.sql.SQLException if missingTable(e) => () }
        try execSql(s"DROP TABLE $pre")
        catch { case e: java.sql.SQLException if missingTable(e) => () }
      }
      // Reached only when EVERY discovered pair is cleaned — a cleanup
      // failure above propagates and keeps the marker for the next run.
      dropMarker()
    } else targets.reverse.foreach { case (t, _) =>
      if (exists(preTable(t))) {
        if (exists(s"${t.table}__stage"))
          execSql(compensateSql(t))
        dropPre(t)
      }
    }
    var loaded = List.empty[TargetInfo]   // reverse order already
    var committed = false
    try {
      var keyMaps = Map.empty[String, DataFrame]
      targets.foreach { case (t, view0) =>
        preSnapshotSql(t).foreach(execSql)
        loaded ::= t
        keyMaps += t.table -> loadOne(spark, jdbcUrl, props, conn, dialect,
          t, view0, keyMaps)
      }
      // Atomic success point: from here on, recovery cleans up instead of
      // compensating. Created BEFORE any pre/stage is touched.
      conn.createStatement().execute(s"CREATE TABLE $markerTable (ok INT)")
      committed = true
      loaded.foreach(cleanupPair)
      dropMarker() // last: while it exists, leftover pairs are drop-only
    } catch {
      // POST-marker failures (committed = true) fall through uncaught: the
      // run IS committed, so compensating would destroy committed rows —
      // the marker survives (dropMarker unreached) and the next run's
      // marker-present recovery finishes the cleanup.
      case e: Throwable if !committed =>
        // Children first (reverse load order): FKs stay valid while rows
        // from this run disappear. A compensation failure (e.g. the failing
        // target never got a stage table) must not mask the original error
        // — and must KEEP that target's __pre snapshot: dropping it would
        // fossilize the partial load (startup recovery only compensates
        // targets whose pre survives). A target with no stage table never
        // merged, so dropping its pre alone is correct.
        loaded.foreach { t =>
          val compensated =
            if (!exists(s"${t.table}__stage")) true // nothing merged: pre-only
            else try { execSql(compensateSql(t)); true }
            catch { case ce: java.sql.SQLException => e.addSuppressed(ce); false }
          if (compensated)
            try dropPre(t) // strict now: don't let it mask the original error
            catch { case ce: java.sql.SQLException => e.addSuppressed(ce) }
        }
        throw e
    } finally conn.close()
  }
}
