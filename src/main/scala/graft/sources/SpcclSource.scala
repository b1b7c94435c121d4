package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.meertrap.Schemas

/** SPCCL single-line TSV source (reference S3/S4,
  * `meertrap/candidate/extract.py:15-117`).
  *
  * The one SPCCL reader. One distributed CSV scan with tab separator and
  * the declared positional schema (PERMISSIVE: a malformed numeric cell
  * nulls that value, not the row); `input_file_name()` supplies the
  * per-file metadata the reference derives from `Path` objects:
  *   - `filename` = [[FileKey]] (`extract.py:71-75`),
  *   - plot/filterbank paths prefixed with the candidate dir
  *     (`extract.py:56-62`).
  *
  * The reference fails any file with != 1 line (`extract.py:40-42`); here
  * multi-line files are quarantined per-file (window count over the file
  * path) rather than failing the job.
  */
object SpcclSource {

  final case class Result(parsed: DataFrame, quarantined: DataFrame)

  def read(spark: SparkSession, dir: String): Result = {
    val raw = spark.read
      .option("sep", "\t")
      .option("recursiveFileLookup", "true")
      .option("pathGlobFilter", "*spccl*")
      .schema(Schemas.spccl)
      .csv(dir)
      .withColumn("__path", input_file_name())

    val withCounts = raw.withColumn("__n_in_file",
      count(lit(1)).over(Window.partitionBy("__path")))

    val candDir = FileKey.candidateDir(col("__path"))

    val prefixed = withCounts
      .withColumn("filename", FileKey(col("__path")))
      .withColumn("fil_file",
        when(col("fil_file").isNotNull, concat_ws("/", candDir, col("fil_file")))
          .otherwise(col("fil_file")))
      .withColumn("plot_file",
        when(col("plot_file").isNotNull, concat_ws("/", candDir, col("plot_file")))
          .otherwise(col("plot_file")))

    Result(
      parsed = prefixed.where(col("__n_in_file") === 1)
        .drop("index", "__path", "__n_in_file"),
      quarantined = prefixed.where(col("__n_in_file") =!= 1)
        .select(col("__path").as("path"), col("__n_in_file").as("n_lines"))
        .distinct()
    )
  }
}
