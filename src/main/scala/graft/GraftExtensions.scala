package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.functions._
import graft.functions.SketchExpressions.foldInt
import graft.plans.AsOfJoinStrategy

/** Injects every graft extension when a session is built: each native SQL
  * function of the catalogue [[GraftExtensions.functions]] plus the as-of
  * join planner strategy. A session needs exactly one of:
  *  - this extension — built in by [[Sessions.builder]], or by config for a
  *    session the library does not build:
  *    {{{ spark-submit --conf spark.sql.extensions=graft.GraftExtensions ... }}}
  *  - one [[Sessions.init]] on a session that already exists, which adds
  *    only the entries and the strategy the session lacks.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.entries.foreach(e.injectFunction)
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}

object GraftExtensions {

  /** The function catalogue: the one place a native SQL function is
    * declared, as its name and the builder from argument expressions to
    * the Catalyst expression. The Column APIs in `graft.functions` call
    * these names through `call_function`.
    */
  val functions: Seq[(String, FunctionBuilder)] = Seq(
    "hms_to_deg" -> (e => HmsToDegExpr(e.head)),
    "dms_to_deg" -> (e => DmsToDegExpr(e.head)),
    "vec_dot" -> (e => VecDotExpr(e(0), e(1))),
    "ngram_tuples" -> (e => NGramTuplesGenerator(e(0), e(1))),
    "minhash_sig" -> (e => MinHashSigExpr(e(0),
      foldInt(e(1), "shingle n"), foldInt(e(2), "num hashes"))),
    "simhash64" -> (e => SimHash64Expr(e.head)),
    "word_shingles" -> (e => WordShinglesExpr(e(0), foldInt(e(1), "shingle n"))),
    "norm_text" -> (e => NormTextExpr(e.head)),
    "sorted_intersect_size" -> (e => SortedIntersectSizeExpr(e(0), e(1))),
    "text_metrics" -> (e => TextMetricsExpr(e.head)),
    "html_text" -> (e => HtmlTextExpr(e.head)),
    "html_links" -> (e => HtmlLinksExpr(e.head)),
    "robots_rules" -> (e => RobotsRulesExpr(e.head)),
    "robots_allowed" -> (e => RobotsAllowedExpr(e(0), e(1))),
    "deflate_ratio" -> (e => DeflateRatioExpr(e.head)),
    "fix_mojibake" -> (e => FixMojibakeExpr(e.head)),
    "langid" -> (e => LangIdExpr(e.head)),
    "decode_http_body" -> (e => DecodeHttpBodyExpr(e(0), e(1))),
    "dechunk_http_body" -> (e => DechunkHttpBodyExpr(e(0), e(1))),
    "decompress_http_body" -> (e => DecompressHttpBodyExpr(e(0), e(1))),
    "compress_http_body" -> (e => CompressHttpBodyExpr(e(0), e(1))),
    "image_meta" -> (e => ImageMetaExpr(e.head)),
    "mp4_meta" -> (e => Mp4MetaExpr(e.head)),
    "mp3_meta" -> (e => Mp3MetaExpr(e.head)),
    "ogg_meta" -> (e => OggMetaExpr(e.head)),
    "audio_meta" -> (e => AudioMetaExpr(e.head)),
    "bloom_agg" -> (e => new BloomFilterAggregate(e(0), e(1), e(2))),
    "bloom_might_contain" -> (e => BloomFilterMightContain(e(0), e(1))))

  private val entries: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    functions.map { case (name, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo("graft", null, name, null, ""), builder)
    }

  /** Gives `spark` what [[GraftExtensions]] injects, for a session built
    * without it: registers only the catalogue entries its registry lacks
    * and adds [[AsOfJoinStrategy]] only when its planner does not already
    * have it, keeping any other extra strategy. Replaces nothing, so a
    * second call is a no-op.
    */
  private[graft] def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    if (!spark.sessionState.planner.strategies.contains(AsOfJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ AsOfJoinStrategy
  }
}
