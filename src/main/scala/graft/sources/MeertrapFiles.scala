package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A MeerTRAP partition (reference S1/S3: a run-summary JSON and a one-line
  * SPCCL TSV per candidate dir), read by ONE recursive `binaryFile` scan:
  * one listing job serves both formats. Each format's `(path, text)` rows
  * are split off by file name on `_metadata`, directly over the scan; the
  * file index prunes on it, so each format's consumers read only their own
  * files (a filter on the `path` column would read both formats').
  *
  * Scale: at 100 TB of small files the listing is the bottleneck; production
  * would compact bundles into larger containers (or ingest through the
  * incremental path). The operator surface is unchanged either way.
  */
object MeertrapFiles {

  final case class Result(runSummaries: RunSummarySource.Result, spccl: SpcclSource.Result)

  /** Every `*.json` and `*spccl*` file under `dir` (recursive), parsed. */
  def read(spark: SparkSession, dir: String): Result = {
    val files = scan(spark, dir, "{*.json,*spccl*}")
    Result(RunSummarySource.parse(runSummaries(files)),
      SpcclSource.parse(named(files, _.contains("spccl"), "text")))
  }

  private[sources] def scan(spark: SparkSession, dir: String, glob: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** A scan's `*.json` files as `(path, json)` rows. */
  private[sources] def runSummaries(scan: DataFrame): DataFrame =
    named(scan, _.endsWith(".json"), "json")

  private def named(scan: DataFrame, name: Column => Column, as: String): DataFrame =
    scan.where(name(col("_metadata.file_name")))
      .select(col("path"), col("content").cast("string").as(as))
}
