package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage boundaries: how a pipeline stage is materialized, in one place.
  *
  * A boundary is one of three things.
  *
  *  - An eager cut ([[Stages.cut]]): `localCheckpoint(true)`. It serves
  *    two compounding needs. (1) Reuse: later stages, eager probes and
  *    stats consume a stage frame again, and without materialization
  *    every consumer re-runs the whole upstream cascade. (2) Lineage
  *    truncation: a persist (or `.cache()`) alone leaves each stage's
  *    plan EMBEDDED in the next one's, and stages that reference their
  *    input twice (`ObservationTransform.transform` joins frames derived
  *    from `flatIn` back together) DOUBLE the plan tree per stage.
  *    The driver then spends its time stringifying and re-analyzing
  *    exponential plans, not executing them. A cut turns the subtree into
  *    a LogicalRDD leaf, so plans stay O(stage) for the analyzer and the
  *    executor. Measured on the MeerTRAP ingest (4-core VM, ~250
  *    candidate dirs): ~72 s with cached stages against ~22 s with cuts,
  *    the metrics collect ~34 s against ~1.4 s (the plan printed for it
  *    had reached 65.8M characters). The blocks are raw RDD persists that
  *    belong to the current build ([[Frames]]): the next build frees
  *    them. They live on the executors, so a cut does not survive
  *    executor loss off `local[*]`; a reliable (`checkpoint()`) cut for
  *    clusters would go here.
  *  - A durable boundary ([[Stages.readOrCompute]]): `<dir>/<name>`
  *    parquet, read back if a previous run completed it, else computed
  *    and written (the reference's `read_or_parse_parquet`,
  *    `meertrap/meertrap.py:33-67`). Same reuse and truncation, plus a
  *    crashed run resumes from its last completed stage.
  *  - A fused boundary: none in memory. A stage with ONE consumer (the
  *    next stage) buys no reuse from a cut, only a full job and a block
  *    round-trip, so it is fused into the next stage's materialization
  *    (plan depth stays O(2 stages), the next cut truncates).
  *
  * A multi-stage build names its boundaries through one [[Stages]]
  * instance ([[Stages.apply]]): `staged` is a cut and `fused` a
  * pass-through, or, with a checkpoint dir, both are durable, because
  * resume granularity is the point there. The stage body is by-name, so
  * a resumed stage skips its eager work entirely.
  */
final class Stages private (spark: SparkSession, dir: Option[String]) {
  /** A stage frame with more than one consumer. */
  def staged(name: String, df: => DataFrame): DataFrame = dir match {
    case Some(d) => Stages.readOrCompute(spark, s"$d/$name")(df)
    case None => Stages.cut(df)
  }

  /** A stage frame whose one consumer is the next stage. */
  def fused(name: String, df: => DataFrame): DataFrame = dir match {
    case Some(d) => Stages.readOrCompute(spark, s"$d/$name")(df)
    case None => df
  }
}

object Stages {
  /** The boundaries of one build. With `dir`, stage dirs are keyed by
    * name only, so a resumed run must prove it is the SAME build: the
    * caller's `manifest` (its config and input fingerprints) is written
    * to `<dir>/_manifest.json` by the first run and must match on every
    * later one. A mismatch means the caller changed semantics under an
    * old checkpoint; resuming would splice old stage outputs into a new
    * build with no error, so the build fails loudly instead. Without
    * `dir`, `manifest` is never evaluated.
    */
  def apply(spark: SparkSession, dir: Option[String])(manifest: => String): Stages = {
    dir.foreach(checkOrWriteManifest(spark, _, manifest))
    new Stages(spark, dir)
  }

  /** An eager cut: materialize `df` and truncate its lineage. */
  def cut(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** Read `path` if a previous run completed it, else compute, write
    * (gzip parquet, like the reference) and read back.
    *
    * Completeness: a stage directory counts as finished ONLY if the
    * committer's `_SUCCESS` marker is present. Spark's FileOutputCommitter
    * moves task files into the target one by one during job commit and
    * writes `_SUCCESS` last, so a run killed mid-commit leaves a
    * readable-but-truncated parquet dir — probing the schema (the
    * reference's `.exists()` idiom) would resume from partial data with
    * no error. On a marker-less dir we recompute and overwrite (the
    * `overwrite` mode clears the torn remains first).
    */
  def readOrCompute(spark: SparkSession, path: String)(compute: => DataFrame): DataFrame = {
    if (isComplete(spark, path)) spark.read.parquet(path)
    else {
      compute.write.mode("overwrite").option("compression", "gzip").parquet(path)
      spark.read.parquet(path)
    }
  }

  /** True iff the directory holds a fully-committed write: the
    * `_SUCCESS` marker exists. A transient FS fault answers `false`
    * (recompute is always correct, just not free).
    */
  def isComplete(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    try p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(new Path(p, "_SUCCESS"))
    catch { case _: java.io.IOException => false }
  }

  /** First run against `dir` records the manifest (temp-file + rename so
    * a crash mid-write leaves no half manifest); later runs must match
    * it exactly or the build refuses to resume.
    */
  private def checkOrWriteManifest(spark: SparkSession, dir: String, expected: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = new Path(dir, "_manifest.json")
    if (fs.exists(path)) {
      val in = fs.open(path)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
      if (found != expected) throw new IllegalStateException(
        s"Checkpoint dir $dir was built by a DIFFERENT run — " +
        "resuming would mix stage outputs across configs/inputs. " +
        s"Clear the dir or use a fresh one.\n--- recorded ---\n$found\n" +
        s"--- this run ---\n$expected")
    } else {
      val tmp = new Path(dir, "_manifest.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(expected.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, path) && !fs.exists(path))
        throw new java.io.IOException(s"could not commit manifest at $path")
    }
  }
}
