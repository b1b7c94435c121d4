package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Stages
import graft.functions.TextFns
import graft.operators.Dedup

/** End-to-end training-corpus preparation: annotate -> quality filter ->
  * exact dedup -> near-dup cluster removal. The composite that ties the
  * text-analysis + dedup operator families together, shaped for 100 TB:
  * every stage is one scan or one keyed shuffle, near-dup clustering works
  * on LSH-blocked pairs + label propagation (never all-pairs), and the
  * representative kept per cluster is deterministic (min doc id).
  */
object CorpusPipeline {

  final case class Config(
      textCol: String = "text",
      idCol: String = "doc_id",
      minTokens: Int = 5,
      minQuality: Double = 0.3,
      nearDupThreshold: Double = 0.8,
      shingleN: Int = 3)

  final case class Stats(
      input: Long,
      afterQuality: Long,
      afterExactDedup: Long,
      afterNearDedup: Long)

  final case class Result(corpus: DataFrame, stats: Stats)

  private def c(n: String): Column = col(s"`$n`")

  /** Stage 1: single-scan annotation with every text signal — ONE compiled
    * kernel call per document ([[graft.functions.TextMetricsExpr]]: tokens,
    * ratios, lang-id, quality in a single pass) instead of re-splitting
    * through interpreted higher-order functions inside each metric.
    */
  def annotate(df: DataFrame, cfg: Config): DataFrame = {
    val t = c(cfg.textCol)
    df.withColumn("__m", graft.functions.TextMetricsExpr.textMetrics(t))
      .withColumn("n_tokens", col("__m.n_tokens"))
      .withColumn("quality", round(col("__m.quality"), 6))
      .withColumn("lang_pred", col("__m.lang_pred"))
      .withColumn("fingerprint", TextFns.fingerprint(t))
      .drop("__m")
  }

  def run(docs: DataFrame, cfg: Config = Config()): Result = {
    val input = docs.where(c(cfg.textCol).isNotNull)
    // Stage boundaries ([[graft.core.Stages]]): the annotation's one
    // consumer is the quality filter, so it is fused into the filter's
    // cut; the filter and exact-dedup frames are read again by the stats
    // and the pair search.
    val filtered = Stages.cut(annotate(input, cfg)
      .where(col("n_tokens") >= cfg.minTokens && col("quality") >= cfg.minQuality))

    // Exact dedup: keep min-id representative per normalized fingerprint.
    val exact = Stages.cut(
      Dedup.keepFirst(filtered, Seq("fingerprint"), Seq(c(cfg.idCol).asc)))

    // Near-dup clusters: LSH-blocked pairs -> connected components -> keep
    // the cluster-min id.
    val pairs = Dedup.minhashLshPairs(exact, cfg.textCol, cfg.idCol,
      shingleN = cfg.shingleN, threshold = cfg.nearDupThreshold)
    val clusters = Dedup.connectedComponents(pairs)
    val dropIds = clusters.where(col("id") =!= col("label")).select("id")
    val corpus = exact.join(dropIds, exact(cfg.idCol) === dropIds("id"), "left_anti")

    val stats = Stats(
      input = input.count(),
      afterQuality = filtered.count(),
      afterExactDedup = exact.count(),
      afterNearDedup = corpus.count())
    Result(corpus, stats)
  }
}
