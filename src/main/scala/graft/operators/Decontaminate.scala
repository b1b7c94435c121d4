package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/test DECONTAMINATION — remove training documents that overlap an
  * evaluation benchmark, the n-gram rule every serious LLM data pipeline
  * applies (public method: GPT-3 appendix C / PaLM-style 13-gram overlap;
  * re-derived for Spark with this engine's shingle kernel).
  *
  * Scale shape: the benchmark side is eval suites — thousands of
  * documents, megabytes — so its DISTINCT shingle set BROADCASTS, and the
  * corpus side is a map-side broadcast join over exploded shingles plus
  * one partial-agged count per contaminated doc. The 100 TB corpus is
  * never shuffled; bytes shuffled scale with CONTAMINATED rows only.
  * Shingles come from the codegen'd `word_shingles` kernel (distinct,
  * sorted), so per-(doc, gram) rows need no extra dedup.
  */
object Decontaminate {

  private def q(n: String): Column = col(s"`$n`")

  private def grams(df: DataFrame, textCol: String, idOpt: Option[String], n: Int): DataFrame = {
    val base = df.where(q(textCol).isNotNull && length(trim(q(textCol))) > 0)
    val g = explode(graft.functions.SketchExpressions.wordShingles(q(textCol), n)).as("g")
    idOpt match {
      case Some(id) => base.select(q(id).as("id"), g)
      case None     => base.select(g).distinct()
    }
  }

  /** Per-document contamination evidence: (id, n_hits) — how many DISTINCT
    * word n-grams of the document appear anywhere in the benchmark.
    * Documents with zero hits are absent.
    */
  def contaminationHits(
      corpus: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String,
      n: Int = 3
  ): DataFrame = {
    val bench = grams(benchmark, benchTextCol, None, n)
    grams(corpus, textCol, Some(idCol), n)
      .join(broadcast(bench), "g")
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** [[contaminationHits]] behind a BLOOM-FILTER prefilter — the route for
    * benchmark suites whose distinct-gram set is too large to broadcast as
    * an exact hash set (the 13-gram rule over a large eval battery can
    * reach 10⁸+ grams; an exact broadcast set of strings stops fitting
    * long before a fixed-size bit array does).
    *
    * Three stages, same output contract as [[contaminationHits]]:
    *  1. BUILD — benchmark grams hash (xxhash64) into one Bloom sketch via
    *     a distributed, map-side-combinable aggregation; the one-row
    *     binary is read back as a bounded driver scalar (size capped by
    *     `expectedGrams`/`fpp` and Spark's own bloom-filter conf caps).
    *  2. PREFILTER — corpus grams probe the inlined sketch map-side
    *     (codegen, zero shuffle); only possible hits survive. No false
    *     negatives, so survivors are a superset of the true hits.
    *  3. VERIFY — survivors exact-join the real benchmark gram set on the
    *     gram STRING (hash collisions and Bloom false positives both die
    *     here), then the per-doc distinct-hit count.
    *
    * Output is EXACTLY [[contaminationHits]]' — the sketch only shrinks
    * the verify join's probe side. 100 TB shape: the corpus is scanned
    * once and never shuffled; what reaches the verify shuffle is
    * `true_hits + fpp × corpus_grams` rows, orders of magnitude below the
    * corpus. Choose `fpp` against gram volume: 1% of 10¹² grams is still
    * 10¹⁰ rows — at that scale spend the bits (`expectedGrams` up, `fpp`
    * down) before widening the verify join.
    */
  def bloomContaminationHits(
      corpus: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String,
      n: Int = 3,
      expectedGrams: Long = 4000000L,
      fpp: Double = 0.03
  ): DataFrame = {
    require(expectedGrams > 0, s"expectedGrams must be positive: $expectedGrams")
    require(fpp > 0 && fpp < 1, s"fpp must be in (0, 1): $fpp")
    val bench = grams(benchmark, benchTextCol, None, n)
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedGrams, fpp)
    val bloom = bench
      .agg(graft.functions.BloomExpressions
        .bloomAgg(xxhash64(col("g")), expectedGrams, numBits).as("bf"))
      .head().getAs[Array[Byte]]("bf")
    if (bloom == null) {
      // empty benchmark → empty sketch (Spark evals it to null) → nothing
      // can be contaminated; keep the (id, n_hits) contract
      return corpus.select(q(idCol).as("id"), lit(0L).as("n_hits")).limit(0)
    }
    grams(corpus, textCol, Some(idCol), n)
      .where(graft.functions.BloomExpressions
        .mightContain(lit(bloom), xxhash64(col("g"))))
      .join(bench, Seq("g"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits"))
  }

  /** Corpus NOVELTY against a reference corpus — the inverse view of
    * decontamination and the "is this new data worth ingesting" metric
    * (the redundancy-vs-an-existing-release question a data-acquisition
    * pass asks): per candidate document, the fraction of its DISTINCT
    * word n-grams NOT already covered by the reference.
    * Returns (id, n_grams, n_known, novelty = 1 - n_known/n_grams) for
    * every candidate with at least one gram.
    *
    * Same scale shape as [[contaminationHits]] when the reference's
    * distinct-gram set is broadcastable; for a reference too large to
    * ship, pass `broadcastReference = false` and the probe degrades to
    * one shuffled semi-join keyed on the gram — the candidate side is
    * the small one in an acquisition pass, so the join stays cheap.
    */
  def noveltyScore(
      candidates: DataFrame, textCol: String, idCol: String,
      reference: DataFrame, refTextCol: String,
      n: Int = 3,
      broadcastReference: Boolean = true
  ): DataFrame = {
    val ref0 = grams(reference, refTextCol, None, n)
    val ref = if (broadcastReference) broadcast(ref0) else ref0
    val cand = grams(candidates, textCol, Some(idCol), n)
    val known = cand.join(ref, Seq("g"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_known"))
    cand.groupBy("id").agg(count(lit(1)).as("n_grams"))
      .join(known, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_known"), lit(0L)).as("n_known"),
        round(lit(1.0d) - coalesce(col("n_known"), lit(0L)).cast("double")
          / col("n_grams"), 6).as("novelty"))
  }

  /** Per-BENCHMARK-item contamination report — the reverse view of
    * [[contaminationHits]] and the eval-integrity question it can't
    * answer: for each benchmark document, how many corpus documents
    * share any of its n-grams, and how much of the item is covered in
    * the worst case. An eval item with high coverage is compromised no
    * matter what the corpus-side filter later drops.
    *
    * @return (bench_id, n_grams, n_docs, max_hits, max_frac) for every
    * benchmark doc with at least one gram; `n_docs` = corpus docs
    * sharing ≥1 gram, `max_hits` = most grams any single corpus doc
    * shares, `max_frac` = max_hits / n_grams.
    *
    * Shape: benchmark grams broadcast (eval suites — megabytes), the
    * corpus probe is the same map-side broadcast join as
    * [[contaminationHits]] but keyed (bench_id, corpus_id); shuffled
    * volume scales with CONTAMINATING (bench, doc) pairs only — the
    * clean bulk of a 100 TB corpus never leaves its mappers.
    */
  def benchmarkReport(
      corpus: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, benchIdCol: String,
      n: Int = 3
  ): DataFrame = {
    val bench = grams(benchmark, benchTextCol, Some(benchIdCol), n)
      .select(col("id").as("bench_id"), col("g"))
    val sizes = bench.groupBy("bench_id").agg(count(lit(1)).as("n_grams"))
    val pairHits = grams(corpus, textCol, Some(idCol), n)
      .join(broadcast(bench), "g")
      .groupBy(col("bench_id"), col("id"))
      .agg(count(lit(1)).as("hits"))
    val perBench = pairHits.groupBy("bench_id")
      .agg(count(lit(1)).as("n_docs"), max(col("hits")).as("max_hits"))
    sizes.join(perBench, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_grams"),
        coalesce(col("n_docs"), lit(0L)).as("n_docs"),
        coalesce(col("max_hits"), lit(0L)).as("max_hits"),
        round(coalesce(col("max_hits"), lit(0L)).cast("double") /
          col("n_grams"), 6).as("max_frac"))
  }

  /** The decontaminated corpus: rows whose document shares NO word n-gram
    * with the benchmark (anti-join on the hit set — corpus columns pass
    * through untouched).
    *
    * The BENCHMARK shingle set is bounded by construction (eval suites),
    * so [[contaminationHits]] force-broadcasts it. The HIT set is not: on
    * a heavily contaminated corpus it scales with the corpus, and a forced
    * `broadcast()` hint would bypass Spark's size threshold — driver OOM
    * instead of a plan change. So the anti-join carries no hint: AQE
    * broadcasts it when its runtime size is under the threshold (the
    * common case) and falls back to a shuffled anti-join when it isn't.
    */
  def clean(
      corpus: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String,
      n: Int = 3
  ): DataFrame = {
    val hits = contaminationHits(corpus, textCol, idCol, benchmark, benchTextCol, n)
      .select(col("id").as("__contaminated_id"))
    corpus.join(hits, q(idCol) === col("__contaminated_id"), "left_anti")
  }

  /** RETRIEVAL-based contamination audit — the soft complement of the
    * exact n-gram family: each benchmark item retrieves its BM25 top-k
    * corpus docs ([[Bm25.topK]]), and a doc scoring ≥ `minScore` in any
    * item's top-k is reported with its evidence: (doc_id, n_hits = how
    * many items retrieved it, max_score, top_benchmark_id = the
    * highest-scoring item, score ties → highest id). Catches reworded /
    * partially-overlapping leakage that shreds exact n-grams — the
    * near-miss review queue next to [[clean]]'s hard drops.
    *
    * Scale shape is [[Bm25]]'s: benchmark items are the
    * broadcast-small query side by construction (eval suites), the
    * per-doc rollup adds one doc-keyed aggregation of the (≤ items×k)
    * hit frame.
    */
  def byRetrieval(
      corpus: DataFrame, textCol: String, idCol: String,
      benchmark: DataFrame, benchTextCol: String, benchIdCol: String,
      k: Int = 10, minScore: Double = 0.0
  ): DataFrame =
    Bm25.topK(corpus, benchmark, idCol, textCol,
        benchIdCol, benchTextCol, k)
      .where(col("score") >= minScore)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"),
        max(struct(col("score"), col("query_id"))).as("__best"))
      .select(col("doc_id"), col("n_hits"),
        col("__best.score").as("max_score"),
        col("__best.query_id").as("top_benchmark_id"))
}
