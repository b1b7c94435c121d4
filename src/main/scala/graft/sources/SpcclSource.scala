package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.meertrap.Schemas

/** SPCCL single-line TSV source (reference S3/S4,
  * `meertrap/candidate/extract.py:15-117`).
  *
  * The one SPCCL reader: a parse of `(path, text)` files, the `*spccl*`
  * rows of the partition scan ([[MeertrapFiles]]). The text splits into
  * lines on LF, CR and CRLF, dropping lines with no character above U+0020
  * as a text-file CSV scan does; the one line parses with `from_csv`, tab
  * separator and the declared positional schema (PERMISSIVE: a malformed
  * numeric cell nulls that value, not the row). The path supplies the
  * per-file metadata the reference derives from `Path` objects:
  *   - `filename` = [[FileKey]] (`extract.py:71-75`),
  *   - plot/filterbank paths prefixed with the candidate dir
  *     (`extract.py:56-62`).
  *
  * The reference fails any file with != 1 line (`extract.py:40-42`); here
  * multi-line files are quarantined as `(path, n_lines)` rather than failing
  * the job. A file with no line yields no row, as an empty file does.
  */
object SpcclSource {

  final case class Result(parsed: DataFrame, quarantined: DataFrame)

  /** Parse `(path, text)` SPCCL files. */
  def parse(files: DataFrame): Result = {
    val lines = files.select(col("path"),
      filter(split(col("text"), "\\r\\n|\\r|\\n"), _.rlike("[^\\x00-\\x20]")).as("lines"))
    val nLines = size(col("lines"))
    val candDir = FileKey.candidateDir(col("path"))
    def prefixed(c: String) = when(col(c).isNotNull, concat_ws("/", candDir, col(c)))

    Result(
      parsed = lines.where(nLines === 1)
        .select(col("path"),
          from_csv(col("lines")(0), Schemas.spccl, Map("sep" -> "\t")).as("rec"))
        .select(col("path"), col("rec.*"))
        .withColumn("filename", FileKey(col("path")))
        .withColumn("fil_file", prefixed("fil_file"))
        .withColumn("plot_file", prefixed("plot_file"))
        .drop("index", "path"),
      quarantined = lines.where(nLines > 1)
        .select(col("path"), nLines.cast("long").as("n_lines"))
    )
  }
}
