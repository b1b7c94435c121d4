package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.LangIdExpr

/** Language identification over a text column — the operator between raw
  * crawl extraction ([[graft.corpus.CrawlPipeline]] / `html_text`) and
  * every per-language corpus stage (datasheets, language tiers, mixture
  * allocation, per-language labels), which all key on a `lang` column
  * real crawl data does not carry. CCNet and C4 both run a langid
  * classifier immediately after extraction; this is that stage.
  *
  * Classification itself is [[graft.functions.LangIdExpr]] — a codegen'd
  * map-side trigram scorer against the fixed in-repo model — so the
  * operator adds ZERO shuffles at any corpus size: the threshold policy
  * here is plain column arithmetic over the scorer's struct.
  */
object LangId {

  /** The classify OOV-GAP floor splitting "looks like a model language"
    * from "unseen script / gibberish". The gap (`avg_lp` minus the
    * argmax language's own smoothed OOV rate) is SELF-CALIBRATING: text
    * sharing no SCORED gram with any seed scores EXACTLY 0 regardless
    * of which language wins the argmax or how well-covered its seed is
    * — and since only grams containing a letter score, an unseen script
    * (Greek, Arabic, …) is exactly that case: its spaces and digits
    * never count as evidence. Held-out text in a model language sits
    * well above (spec-pinned per language: ≥ 2× this floor; the CJK
    * languages, with per-char rather than per-trigram seed coverage,
    * are the closest at ~0.52). Unlike an absolute avg-logprob floor,
    * no re-tuning is needed when seeds grow or differently-covered
    * languages join. Single source of
    * truth — the DuckDB oracle mirrors interpolate this constant.
    */
  val DefaultMinOovGap: Double = 0.25

  /** Raw scores: `langid(text)` →
    * struct<lang, avg_lp, margin, oov_gap, n_tri>.
    */
  def langid(text: Column): Column = LangIdExpr.langid(text)

  /** Adds `langCol` (ISO-ish code or "und") and `confCol` (the
    * best-vs-runner-up margin in average log-probability) to `docs`.
    *
    * "und" (undetermined) when the evidence does not support a call:
    *  - the text is null or has fewer than `minTrigrams` trigrams
    *    (too short to carry a trigram signature);
    *  - the OOV gap sits below `minOovGap` — the text is statistically
    *    indistinguishable from "every trigram unknown" (gibberish, an
    *    unseen script: the gap is exactly 0 there, see
    *    [[DefaultMinOovGap]]);
    *  - the margin is below `minMargin` (two languages are effectively
    *    tied — heavily mixed text).
    *
    * The confidence column keeps the raw margin (0.0 for null/short
    * text) so downstream stages can re-threshold without re-scoring.
    */
  def classify(
      docs: DataFrame, textCol: String,
      minOovGap: Double = DefaultMinOovGap, minMargin: Double = 0.0,
      minTrigrams: Int = 1,
      langCol: String = "lang", confCol: String = "lang_conf"): DataFrame = {
    val lid = langid(col(s"`$textCol`"))
    docs.withColumn("__lid", lid)
      .withColumn(langCol,
        when(col("__lid").isNull || col("__lid.n_tri") < minTrigrams ||
            col("__lid.oov_gap") < minOovGap ||
            col("__lid.margin") < minMargin,
          lit("und"))
          .otherwise(col("__lid.lang")))
      .withColumn(confCol, coalesce(col("__lid.margin"), lit(0.0)))
      .drop("__lid")
  }
}
