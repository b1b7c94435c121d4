package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.meertrap.Schemas

/** Run-summary JSON source (reference S1/S2/S4,
  * `meertrap/observation/extract.py:22-128`).
  *
  * Spark-first redesign of the reference's thread-pooled per-file loop:
  *   - the `*.json` files of a distributed `binaryFile` scan of the
  *     candidate-directory tree ([[MeertrapFiles]], recursive like
  *     `rglob("*.json")`),
  *   - content-hash dedup BEFORE parsing (the reference MD5s each file and
  *     skips seen hashes, `extract.py:60-77`) — here `md5(content)` +
  *     deterministic keep-first-by-path instead of thread-arrival order,
  *   - `from_json` with the explicit schema; rows that fail to parse land
  *     in a quarantine frame instead of failing the job (per-file fault
  *     tolerance, `extract.py:106-113`).
  *
  * [[parse]] is everything after the scan, so the incremental path
  * ([[graft.streaming.IncrementalRunner.runSummaries]]) runs it on each
  * micro-batch of streamed files: the same key, dedup and quarantine
  * within a batch; dedup across batches is the caller's.
  */
object RunSummarySource {

  final case class Result(parsed: DataFrame, corrupt: DataFrame)

  /** Read every `*.json` under `dir` (recursive) and [[parse]] it. */
  def read(spark: SparkSession, dir: String): Result =
    parse(MeertrapFiles.runSummaries(MeertrapFiles.scan(spark, dir, "*.json")))

  /** Dedup `(path, json)` files by content hash, parse with the declared
    * schema.
    *
    * @return parsed frame (`filename` + `md5` + the schema's columns) and
    *         quarantine frame of unparseable files (path + raw content).
    */
  def parse(files: DataFrame): Result = {
    // Deterministic keep-first by path (reference keeps thread-arrival
    // first, which is non-deterministic; path order is stable re-run to
    // re-run and equally valid for idempotency).
    val deduped = graft.operators.Dedup.keepFirst(
      files.withColumn("md5", md5(col("json"))), Seq("md5"), Seq(col("path").asc))

    val parsed = deduped
      .withColumn("rec", from_json(col("json"), Schemas.runSummary))
      .withColumn("filename", FileKey(col("path")))

    Result(
      parsed = parsed.where(col("rec").isNotNull && col("rec.utc_start").isNotNull)
        .select(col("filename"), col("md5"), col("rec.*")),
      corrupt = parsed.where(col("rec").isNull || col("rec.utc_start").isNull)
        .select(col("path"), col("json"))
    )
  }
}
