package graft.atnf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.Coordinates
import graft.meertrap.Schemas
import graft.operators.Ids

/** ATNF known-pulsar catalogue pipeline (reference `atnf/atnf.py:17-94`).
  *
  * The reference pulls the catalogue via the psrqpy HTTP client; the engine
  * surface is "read an external catalogue snapshot as a DataFrame" — here a
  * CSV snapshot (the catalogue is distributed as a downloadable tarball/CSV;
  * zero-egress environment).
  */
object AtnfTransform {

  private def c(n: String): Column = col(s"`$n`")

  /** psrqpy query param -> engine column (the reference's
    * `query_param_mapping`, `atnf/params.py:3-10`). A caller requesting a
    * param subset gets exactly those columns — in Spark that is a
    * projection, column-pruned all the way into the CSV scan.
    */
  val queryParamMapping: Seq[(String, String)] = Seq(
    "NAME" -> "known_ps.name",
    "RAJ"  -> "known_ps.ra",
    "DECJ" -> "known_ps.dec",
    "DM"   -> "known_ps.dm",
    "W50"  -> "known_ps.width",
    "P0"   -> "known_ps.period")

  val allParams: Seq[String] = queryParamMapping.map(_._1)

  /** Extract (`atnf/atnf.py:17-35`): read snapshot, drop `*_ERR`, rename via
    * `query_param_mapping` (`atnf/params.py:3-10`), mint known_pulsar_id,
    * stamp visited_at. `params` subsets the queried catalogue fields like
    * the reference's psrqpy params argument; `NAME` is always kept (it is
    * the natural key the ids mint from).
    */
  def extract(spark: SparkSession, csvPath: String, visitedAt: java.sql.Timestamp,
              params: Seq[String] = allParams): DataFrame = {
    val unknown = params.filterNot(allParams.contains)
    require(unknown.isEmpty, s"unknown ATNF query params: ${unknown.mkString(", ")}")
    val raw = spark.read.option("header", "true").schema(Schemas.atnf).csv(csvPath)
    val selected = queryParamMapping
      .filter { case (p, _) => p == "NAME" || params.contains(p) }
      .map { case (p, out) => col(p).as(out) }
    Ids.denseId(raw.select(selected: _*), "known_pulsar_id", Seq(c("known_ps.name")))
      .withColumn("visit.visited_at", lit(visitedAt))
  }

  /** Transform (`atnf/atnf.py:38-77`): HMS/DMS -> degrees, "(ra,dec)"
    * position, catalogue literals.
    */
  def transform(df: DataFrame, catalogueVersion: String = "2.3.0"): DataFrame = df
    .withColumn("known_ps.ra", Coordinates.hmsToDeg(c("known_ps.ra")))
    .withColumn("known_ps.dec", Coordinates.dmsToDeg(c("known_ps.dec")))
    .withColumn("known_ps.pos",
      Coordinates.positionString(c("known_ps.ra").cast("string"),
        c("known_ps.dec").cast("string")))
    .withColumn("cat.name", lit("ATNF"))
    .withColumn("cat.url", lit("https://www.atnf.csiro.au/research/pulsar/psrcat/"))
    .withColumn("cat.version", lit(catalogueVersion))
    .withColumn("catalogue_id", lit(1L))
    .withColumn("catalogue_visit_id", lit(1L))
}
