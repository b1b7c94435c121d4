package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The `filename` every MeerTRAP file is keyed by:
  * `<candidate dir>/<file stem>` (reference
  * `meertrap/candidate/extract.py:71-75`), the file's parent directory
  * name, then its basename minus the last extension (`Path.stem`).
  */
private[sources] object FileKey {

  def candidateDir(path: Column): Column = regexp_extract(path, "([^/]+)/[^/]+$", 1)

  def apply(path: Column): Column =
    concat_ws("/", candidateDir(path), regexp_extract(path, "([^/]+?)(\\.[^/.]*)?$", 1))
}
