package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType}

/** Loader for the driver-provided benchmark tables (TESTDATA.md).
  * One parquet file per table under `<sfDir>/<name>.parquet`.
  *
  * The `events` table stores TIMESTAMP(NANOS) which Spark 4 rejects; sessions
  * set `spark.sql.legacy.parquet.nanosAsLong=true` (see [[Sessions.config]])
  * and this loader converts the resulting long back to a microsecond
  * timestamp (the data has no sub-microsecond content, verified at gen time).
  */
object Tables {
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$dir/$name.parquet")
    // Only events.ts is normalized, deliberately: it feeds TIMESTAMP-only
    // functions (unix_micros) that reject NTZ, and the cast is
    // value-identical under the pinned UTC session. Other tables'
    // NTZ timestamp columns (o_orderdate, l_shipdate, ...) stay NTZ —
    // a blanket cast would sit between the scan and every comparison
    // predicate and BLOCK parquet filter pushdown (pinned by the q08
    // PushedFilters spec).
    if (name == "events" && df.schema("ts").dataType == LongType)
      // TIMESTAMP(NANOS) read as long under nanosAsLong: back to µs (the
      // data has no sub-µs content, verified at gen time).
      df.withColumn("ts", timestamp_micros((col("ts") / 1000L).cast("long")))
    else if (name == "events" && df.schema("ts").dataType == TimestampNTZType)
      df.withColumn("ts", col("ts").cast("timestamp"))
    else df
  }
}

/** Shared session tuning for every entry point (Verify, Bench, tests). */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")

  /** Makes `spark` a graft session: the catalogue functions and the as-of
    * strategy that [[GraftExtensions]] injects when a session is built.
    * A no-op on a [[builder]] session or a second call; on a session built
    * elsewhere it adds only what is missing (see [[GraftExtensions.ensure]]).
    * Every entry point calls this once per session or per query build.
    */
  def init(spark: SparkSession): SparkSession = {
    GraftExtensions.ensure(spark)
    spark
  }
}
