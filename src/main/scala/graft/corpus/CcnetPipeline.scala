package graft.corpus

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Stages
import graft.operators.{LangId, LmScore, Paragraphs, Sampling}
import graft.streaming.StreamingParagraphDedup.ParagraphRegistry

/** The CCNet composition as a production API (Wenzek et al., LREC'20 —
  * the per-language curation recipe behind most open crawl corpora), in
  * CCNet's published stage order:
  *
  *   1. language id     ([[LangId.classify]] — map-side static kernel;
  *                        "und" rows drop: every later stage keys on lang)
  *   2. paragraph dedup ([[Paragraphs.dedupFirstByShard]] per language
  *                        shard — CCNet hashes paragraphs per language so
  *                        cross-page boilerplate is stored once; OR the
  *                        incremental [[ParagraphRegistry]] twin for
  *                        batch-over-batch runs)
  *   3. per-language LM ([[LmScore.trainUnigramBy]]/[[LmScore.scoreDocsBy]]
  *                        at `lmOrder = 1` — the KenLM stand-in — or the
  *                        interpolated-trigram upgrade at `lmOrder = 3`)
  *   4. quality tiers   ([[Sampling.percentileBuckets]] — CCNet's
  *                        head/middle/tail 25/50/25 on the LM score)
  *   5. token budgets   ([[Sampling.byTokenBudget]] per language, or a
  *                        caller-supplied stage — epoch upsampling etc.)
  *
  * Like [[ReleasePipeline]], the composition adds NO operator of its
  * own — every stage is one of the library's individually-verified
  * operators, so the 100 TB story is the stages': langid is
  * shuffle-free, the dedup is two key-balanced shuffles (winner
  * aggregate + reassembly, never a copy-set window), the LM stages are
  * keyed aggregations plus AQE-adaptive model joins, tiers and budgets
  * are one bucket prefix-sum per language (no per-language driver
  * loop). Stage frames are EAGER localCheckpoints (the ReleasePipeline
  * idiom) so the multi-pass consumers reuse them (without
  * materialization the exploded LM joins re-run ~8×; measured
  * 21.9 → 5.8s at sf0.1) AND downstream plans stay O(stage) for the
  * analyzer — see the stage-boundary comment in [[run]].
  */
object CcnetPipeline {

  /** Paragraph-dedup stage flavor. */
  sealed trait DedupStage extends Serializable
  /** No paragraph dedup (langid straight into the LM). */
  case object NoDedup extends DedupStage
  /** One-shot corpus dedup per language shard. Raw-layout text splits
    * on blank lines (the defaults); text out of
    * [[graft.functions.HtmlTextExpr]] carries ONE newline per block —
    * pass `splitRegex = "\n", joinSep = "\n"` (the q164 convention).
    */
  final case class OneShot(splitRegex: String = "\\n\\s*\\n",
                           joinSep: String = "\n\n") extends DedupStage
  /** Incremental dedup against a persistent fingerprint registry — the
    * batch-over-batch flavor: paragraphs already registered by an
    * earlier batch drop, this batch's new winners append. `batchId`
    * makes re-delivery idempotent (the registry's `_batches` ledger).
    */
  final case class Incremental(registry: ParagraphRegistry,
                               batchId: Option[Long] = None) extends DedupStage

  /** `lmOrder` 1 = per-language unigram (the KenLM stand-in CCNet's
    * published scores approximate); 3 = interpolated trigram
    * `λ₁·p(w3|w1w2) + λ₂·p(w3|w2) + (1−λ₁−λ₂)·p(w3)` — closer to
    * CCNet's 5-gram perplexity at one more keyed aggregate.
    * `budgetStage` overrides stage 5 entirely (epoch mixtures etc.);
    * when None, [[Sampling.byTokenBudget]] runs with
    * `budgets`/`defaultBudget`.
    */
  final case class Config(
      budgets: Map[String, Long] = Map.empty,
      defaultBudget: Long = Long.MaxValue,
      tiers: Seq[(String, Double)] =
        Seq("head" -> 0.25, "middle" -> 0.5, "tail" -> 0.25),
      keepTiers: Set[String] = Set("head", "middle"),
      oovLogp: Double = -12.0,
      lmOrder: Int = 1,
      lambda1: Double = 0.6,
      lambda2: Double = 0.3,
      pFloor: Double = 1e-9,
      dedup: DedupStage = NoDedup,
      budgetStage: Option[DataFrame => DataFrame] = None) {
    require(lmOrder == 1 || lmOrder == 3, s"lmOrder must be 1 or 3: $lmOrder")
  }

  /** `budgeted` — stage-5 survivors (doc_id, lang, tier, mean_logp,
    * n_tokens, + the budget stage's columns); `tiered` — stage-4 kept
    * tiers; `scored` — every classified doc's LM row; `classified` —
    * the post-langid (post-dedup) corpus.
    */
  final case class Result(budgeted: DataFrame, tiered: DataFrame,
                          scored: DataFrame, classified: DataFrame)

  /** Run the composition over `docs(idCol, textCol, ...)`. The input
    * needs no lang column — stage 1 mints it.
    */
  def run(spark: SparkSession, docs: DataFrame, cfg: Config = Config(),
          textCol: String = "text", idCol: String = "doc_id"): Result = {
    val classified0 = LangId.classify(docs, textCol)
      .where(col("lang") =!= "und")
    val deduped = cfg.dedup match {
      case NoDedup => classified0
      case OneShot(splitRegex, joinSep) =>
        Paragraphs.dedupFirstByShard(classified0, textCol, idCol, "lang",
          splitRegex, joinSep)
      case Incremental(registry, batchId) =>
        registry.dedupeBatch(classified0, textCol, idCol, "lang", batchId)
    }
    // Stage boundaries are eager cuts, not persists ([[graft.core.Stages]]):
    // the crawl-fed compositions (q160/q164/q166) carry expression trees
    // large enough that per-action re-analysis of an embedded plan
    // dominated the driver (q164 spent ~12s of 35s outside any Spark
    // job). The Incremental registry's dedupeBatch already returns a cut
    // (StreamingParagraphDedup); cutting it again would be a second full
    // materialization and a duplicate block copy per batch, so that case
    // passes through.
    val classified = cfg.dedup match {
      case Incremental(_, _) => deduped
      case _ => Stages.cut(deduped)
    }
    val scored0 =
      if (cfg.lmOrder == 1) {
        val uni = LmScore.trainUnigramBy(classified, textCol, "lang")
        LmScore.scoreDocsBy(classified, textCol, idCol, "lang", uni,
          oovLogp = cfg.oovLogp)
      } else {
        val uni = LmScore.unigramProbsBy(classified, textCol, "lang")
        val bi = LmScore.bigramCondProbsBy(classified, textCol, "lang")
        val tri = LmScore.trigramCondProbsBy(classified, textCol, "lang")
        LmScore.scoreDocsTrigramBy(classified, textCol, idCol, "lang",
          tri, bi, uni, cfg.lambda1, cfg.lambda2, cfg.pFloor,
          logFloor = cfg.oovLogp)
      }
    val scored = Stages.cut(scored0
      .select(col("id").as(idCol), col("stratum").as("lang"),
        round(col("mean_logp"), 6).as("mean_logp"), col("n_tokens")))
    val tiered = Stages.cut(Sampling.percentileBuckets(scored, "lang", idCol,
        "mean_logp", cfg.tiers)
      .where(col("tier").isInCollection(cfg.keepTiers)))
    val budgeted = cfg.budgetStage match {
      case Some(f) => f(tiered)
      case None => Sampling.byTokenBudget(tiered, "lang", idCol,
        "n_tokens", cfg.budgets, cfg.defaultBudget)
    }
    Result(budgeted, tiered, scored, classified)
  }
}
