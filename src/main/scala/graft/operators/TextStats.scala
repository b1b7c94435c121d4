package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-statistics operators that need aggregation (the per-row signals
  * live in `graft.functions.TextFns` / the `text_metrics` kernel).
  */
object TextStats {

  /** Compression-ratio band filter (the Dolma/RefinedWeb one-number
    * quality heuristic): keep docs whose raw-DEFLATE compressed/raw
    * byte ratio ([[graft.functions.CompressExpr]]) falls inside
    * `[minRatio, maxRatio]` — template spam and boilerplate compress to
    * almost nothing (below the band), base64/binary junk not at all
    * (above it), natural language sits between. Null texts drop (no
    * bytes, no judgement). Pure map-side codegen predicate: zero
    * shuffle at any corpus size.
    *
    * The exact ratio is deflater-implementation detail — calibrate the
    * band on margin-separated references (the q143 construction), never
    * on exact values.
    */
  def compressionBandFilter(docs: DataFrame, textCol: String,
                            minRatio: Double, maxRatio: Double): DataFrame = {
    require(minRatio <= maxRatio, s"empty band [$minRatio, $maxRatio]")
    val r = graft.functions.CompressExpr.deflateRatio(col(s"`$textCol`"))
    docs.where(r >= minRatio && r <= maxRatio)
  }

  /** Gopher-style repetition signal: the fraction of a document's word
    * n-grams taken by its single most frequent n-gram. Machine-generated /
    * boilerplate text repeats phrases; the Gopher rules drop documents
    * whose top 2-gram exceeds ~0.2 of all 2-grams.
    *
    * Shape: the positional n-gram generator (non-distinct — counts matter
    * here, unlike shingle sets) explodes map-side; two hash aggregations
    * (doc×ngram, then doc), both map-side combinable. No windows, no
    * driver state.
    */
  def topNgramFraction(df: DataFrame, textCol: String, idCol: String,
                       n: Int): DataFrame = {
    val counts = df
      .where(col(s"`$textCol`").isNotNull && length(trim(col(s"`$textCol`"))) > 0)
      .select(col(s"`$idCol`").as("id"), expr(s"ngram_tuples(`$textCol`, $n)"))
      .groupBy("id", "ngram").agg(count(lit(1)).as("c"))
    counts.groupBy("id").agg(
      sum(col("c")).as("n_ngrams"),
      (max(col("c")).cast("double") / sum(col("c"))).as("top_fraction"))
  }

  /** Gopher-style quality-rule battery (Rae et al., "Scaling Language
    * Models: ... Gopher", 2021, §A1.1 — re-derived): per-document verdict
    * over 4 rules: minimum token count, mean token length within bounds,
    * stopword-ratio floor (gibberish signal), top-2-gram repetition cap.
    * Returns (id, n_fail, pass) — the signals come from the single-pass
    * `text_metrics` kernel plus [[topNgramFraction]], so the battery adds
    * one small join over the per-row metric columns, no extra corpus scan.
    */
  def gopherVerdicts(df: DataFrame, textCol: String, idCol: String,
                     minTokens: Long = 5L,
                     meanLenBounds: (Double, Double) = (2.0, 10.0),
                     minStopwordRatio: Double = 0.01,
                     maxTopBigramFraction: Double = 0.1): DataFrame = {
    val metrics = df
      .where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$idCol`").as("id"),
        graft.functions.TextFns.tokenCount(col(s"`$textCol`")).cast("long").as("n_tok"),
        graft.functions.TextMetricsExpr.textMetrics(col(s"`$textCol`")).as("m"))
      .select(col("id"), col("n_tok"),
        col("m.mean_token_len").as("mean_len"),
        col("m.stopword_ratio").as("stop_ratio"))
    val rep = topNgramFraction(df, textCol, idCol, n = 2)
      .select(col("id"), col("top_fraction"))
    val fails =
      when(col("n_tok") < minTokens, 1L).otherwise(0L) +
      when(col("mean_len") < meanLenBounds._1 || col("mean_len") > meanLenBounds._2, 1L).otherwise(0L) +
      when(col("stop_ratio") < minStopwordRatio, 1L).otherwise(0L) +
      // empty/whitespace docs have no bigram row: treat as maximally
      // repetitive is wrong — they already fail min-tokens; count 0 here.
      when(coalesce(col("top_fraction"), lit(0.0)) > maxTopBigramFraction, 1L).otherwise(0L)
    metrics.join(rep, Seq("id"), "left")
      .select(col("id"), fails.as("n_fail"), (fails === 0L).as("pass"))
  }

  /** Per-document DUPLICATED-SPAN coverage — the core signal of exact
    * substring deduplication (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL'22 — public method, re-derived
    * for Spark): the fraction of a document's token positions covered by
    * some k-token span whose text occurs MORE THAN ONCE in the corpus
    * (in another document, or repeated within the same one). Their
    * suffix-array pass marks byte ranges; the Spark-shaped equivalent
    * marks token ranges through the positional k-gram index:
    *
    *   1. one generator pass emits (doc, pos, k-gram) — map-side,
    *   2. one aggregation finds grams with corpus occurrence > 1,
    *   3. the dup grams join back (shuffle on the gram) and their spans
    *      [pos, pos+k) union per document via countDistinct.
    *
    * Three keyed shuffles, no windows, no driver state. At 100 TB the
    * gram join keys on xxhash64(gram) with verification instead of raw
    * strings; here strings keep it exact and oracle-checkable. Docs
    * shorter than k tokens emit the whole-doc gram (covering every
    * position), consistent with the shingle family.
    */
  def dupSpanCoverage(df: DataFrame, textCol: String, idCol: String,
                      k: Int): DataFrame = {
    // Deliberately NOT persisted despite three consumers: the exploded
    // gram frame is LARGER than its source text (one row per token
    // position), so materializing it costs more than re-running the
    // cheap map-side generator per consumer — measured 10x slower with a
    // persist at sf0.1. Caching pays when the cached form is smaller or
    // the producer is expensive; neither holds for a codegen'd explode.
    val grams = df
      .where(col(s"`$textCol`").isNotNull && length(trim(col(s"`$textCol`"))) > 0)
      .select(col(s"`$idCol`").as("id"),
        graft.functions.TextFns.tokenCount(col(s"`$textCol`")).as("n_tokens"),
        expr(s"ngram_tuples(`$textCol`, $k)"))
    val dupGrams = grams.groupBy("ngram").agg(count(lit(1)).as("__occ"))
      .where(col("__occ") > 1).select("ngram")
    val covered = grams.join(dupGrams, Seq("ngram"))
      .select(col("id"), explode(sequence(col("pos"),
        least(col("pos") + (k - 1), col("n_tokens") - 1))).as("p"))
      .groupBy("id").agg(countDistinct(col("p")).as("covered_tokens"))
    grams.groupBy("id").agg(max("n_tokens").as("n_tokens"))
      .join(covered, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("covered_tokens"), lit(0L)).as("covered_tokens"),
        col("n_tokens").cast("long").as("n_tokens"),
        round(coalesce(col("covered_tokens"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("dup_coverage"))
  }

  /** Exact-substring dedup as a TRANSFORM, not a score — the actual pass
    * of Lee et al. (ACL'22): REMOVE every token position covered by a
    * k-token span that occurs more than once in the corpus and reassemble
    * the surviving tokens into scrubbed text (their suffix-array pass cuts
    * byte ranges; this is the positional k-gram analogue over tokens, the
    * same index [[dupSpanCoverage]] scores with).
    *
    * Shape: the coverage machinery (generator pass + dup-gram aggregation)
    * plus ONE more broadcast-free step — the per-doc sorted DUP-SPAN START
    * list (factor-k smaller than an exploded position set, and sufficient
    * because every span has the same length k) joins back to the text and
    * a single gap-walk rebuilds the survivors: the kept token ranges are
    * exactly the gaps between consecutive covered intervals, so the
    * projection is O(|starts| + kept tokens) per document — linear in doc
    * length even for the paper's motivating long, heavily-duplicated
    * documents. No token-level explode of the corpus on the rebuild side,
    * no per-token membership probe, no window, no driver state. Docs with
    * every position covered come back as empty text (n_kept = 0), the
    * paper's degenerate case.
    */
  def removeDupSpans(df: DataFrame, textCol: String, idCol: String,
                     k: Int): DataFrame = {
    val grams = df
      .where(col(s"`$textCol`").isNotNull && length(trim(col(s"`$textCol`"))) > 0)
      .select(col(s"`$idCol`").as("id"),
        graft.functions.TextFns.tokenCount(col(s"`$textCol`")).as("n_tokens"),
        expr(s"ngram_tuples(`$textCol`, $k)"))
    val dupGrams = grams.groupBy("ngram").agg(count(lit(1)).as("__occ"))
      .where(col("__occ") > 1).select("ngram")
    // Per-doc sorted span-start list: bounded by the doc's own token
    // count — row-local metadata, not a corpus-sized structure.
    val covStarts = grams.join(dupGrams, Seq("ngram"))
      .groupBy("id").agg(sort_array(collect_set(col("pos"))).as("__starts"))
    // Tokenize BELOW the join so every lambda below references a plain
    // attribute: an expression captured by a higher-order-function lambda
    // is re-evaluated PER ELEMENT, so an O(n) producer there would turn
    // the rebuild quadratic — the exact cost curve this gap-walk removes.
    val docs = df
      .where(col(s"`$textCol`").isNotNull && length(trim(col(s"`$textCol`"))) > 0)
      .select(col(s"`$idCol`").as("id"),
        split(trim(col(s"`$textCol`")), "\\s+").as("__toks"))
    val n = size(col("__toks"))
    // Augment the starts with a virtual span ending at -1 and a virtual
    // start at n: the kept ranges are then uniformly the non-empty gaps
    // [prev_start + k, next_start - 1] between consecutive entries (spans
    // all have length k, so sorted starts have sorted ends and the
    // interval union needs no merge pass). A doc no duplicated span
    // touches (null __starts) degenerates to the single gap [0, n-1].
    // zip_with pairs consecutive entries: its array children evaluate
    // ONCE (they are HOF children, not lambda captures) and its lambda
    // touches only its own variables.
    val ext = concat(array(lit(-k)),
      coalesce(col("__starts"), array().cast("array<int>")), array(n))
    val ranges = filter(
      zip_with(slice(ext, lit(1), size(ext) - 1), slice(ext, lit(2), size(ext) - 1),
        (a, b) => struct((a + k).as("lo"), (b - 1).as("hi"))),
      r => r("lo") <= r("hi"))
    // slice is 1-based; each kept range copies only its own tokens.
    val kept = flatten(transform(ranges, r =>
      slice(col("__toks"), r("lo") + 1, r("hi") - r("lo") + 1)))
    docs.join(covStarts, Seq("id"), "left")
      .select(col("id"),
        size(kept).cast("long").as("n_kept"),
        array_join(kept, " ").as("scrubbed"))
  }

  /** Top-k COLLOCATIONS by pointwise mutual information: adjacent token
    * pairs ranked by log10( p(ab) / (p(a)·p(b)) ) with a minimum pair
    * count (PMI is noise below a support floor) — the classic signal for
    * multi-word vocabulary entries and tokenizer merge analysis.
    *
    * Shape: one token aggregation and one bigram aggregation (both
    * map-side combinable); the two corpus totals are 1-ROW driver
    * probes folded back in as literals (the engine's bounded-collect
    * idiom — a constant-key join constant-folds into the nested-loop
    * shape the plan tests ban), unigram probabilities join onto the
    * bigram table on the token key, and the final cut is a
    * TakeOrderedAndProject under the total order (pmi DESC, a, b). The
    * arithmetic is mirrored literally in the DuckDB oracle (same op
    * order, so IEEE-identical).
    *
    * @return (tok_a, tok_b, n_pair, pmi)
    */
  def pmiTopK(df: DataFrame, textCol: String, k: Int,
              minCount: Int = 3): DataFrame = {
    require(k >= 1 && minCount >= 1)
    val ts = graft.functions.TextFns.tokens(col(s"`$textCol`"))
    val base = df.where(col(s"`$textCol`").isNotNull).select(ts.as("__ts"))
    val uni = base.select(explode(col("__ts")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
    val bi = base.where(size(col("__ts")) >= 2)
      .select(explode(zip_with(
        slice(col("__ts"), lit(1), size(col("__ts")) - 1),
        slice(col("__ts"), lit(2), size(col("__ts")) - 1),
        (a, b) => struct(a.as("a"), b.as("b")))).as("p"))
      .groupBy(col("p.a").as("tok_a"), col("p.b").as("tok_b"))
      .agg(count(lit(1)).as("n_pair"))
    // Bounded driver probes: one long each, computed once per call. The
    // frames recompute for the probe and the plan below — at this
    // operator's scale both are single aggregations over one scan.
    // sum() aggregates to NULL on an empty/all-blank corpus — coalesce in
    // the driver probe so the empty case returns an empty frame instead of
    // NPE'ing on getLong.
    val n1 = uni.agg(coalesce(sum(col("c1")), lit(0L))).head().getLong(0)
    val n2 =
      if (n1 == 0L) 0L
      else bi.agg(coalesce(sum(col("n_pair")), lit(0L))).head().getLong(0)
    if (n1 == 0L || n2 == 0L) {
      return df.sparkSession.emptyDataFrame
        .select(lit("").as("tok_a"), lit("").as("tok_b"),
          lit(0L).as("n_pair"), lit(0.0).as("pmi"))
    }
    val ua = uni.select(col("tok").as("tok_a"), col("c1").as("ca"))
    val ub = uni.select(col("tok").as("tok_b"), col("c1").as("cb"))
    bi
      .join(ua, Seq("tok_a")).join(ub, Seq("tok_b"))
      .where(col("n_pair") >= minCount)
      .withColumn("pmi", log10(
        (col("n_pair").cast("double") / lit(n2)) /
          ((col("ca").cast("double") / lit(n1)) *
            (col("cb").cast("double") / lit(n1)))))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(k)
      .select(col("tok_a"), col("tok_b"), col("n_pair"), col("pmi"))
  }

  /** Boilerplate-LINE removal (the RefinedWeb/CCNet line-dedup rule):
    * a line whose trimmed form appears in at least `minDf` DISTINCT
    * documents is site furniture — headers, footers, cookie banners,
    * nav crumbs — and is stripped from every document; blank lines are
    * structure, never counted and never removed. Line-granular where
    * [[dupSpanCoverage]] is token-window-granular: furniture repeats
    * exactly at line boundaries, so the line df test catches it without
    * any shingle machinery.
    *
    * @return (id, n_removed, scrubbed) — scrubbed rejoins the kept
    * lines in original order.
    *
    * Shape: posexplode lines map-side; one keyed shuffle on the trimmed
    * line for the df count (map-side combinable); the flagged-line set
    * joins back on the same key (no broadcast hint — furniture tables
    * are usually small but a mirror-heavy crawl isn't, AQE decides);
    * per-doc rebuild is one doc-keyed aggregation with a bounded
    * in-group sort (a document's own line count).
    */
  def removeBoilerplateLines(df: DataFrame, textCol: String, idCol: String,
                             minDf: Int): DataFrame = {
    require(minDf >= 2, s"minDf must be >= 2, got $minDf")
    val docs = df.where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$idCol`").as("id"),
        posexplode(split(col(s"`$textCol`"), "\n")).as(Seq("pos", "line")))
    val k = trim(col("line"))
    val boiler = docs.where(k =!= "")
      .select(k.as("k"), col("id"))
      .distinct()
      .groupBy("k").agg(count(lit(1)).as("df"))
      .where(col("df") >= minDf)
      .select(col("k").as("__bl_k"))
    val kept = docs.join(boiler, k === col("__bl_k"), "left")
      .withColumn("__bl_drop", col("__bl_k").isNotNull)
    kept.groupBy("id").agg(
        sum(when(col("__bl_drop"), 1L).otherwise(0L)).as("n_removed"),
        array_join(
          transform(
            array_sort(collect_list(when(!col("__bl_drop"),
              struct(col("pos"), col("line"))))),
            s => s("line")),
          "\n").as("scrubbed"))
      .select(col("id"), col("n_removed"), col("scrubbed"))
  }

  /** Per-stratum corpus DATASHEET ("datasheets for datasets" shape): the
    * release-audit aggregate a corpus ships with — document count, token
    * count, blank-document count, distinct content fingerprints, and the
    * number of documents involved in an exact-dup cluster. The dup
    * figures use the q31 fingerprint convention (normalized-text md5;
    * blank docs are singletons), so they agree with what
    * `Dedup.exactByFingerprint` would actually collapse.
    *
    * Shape: one keyed shuffle to (stratum, fingerprint) with map-side
    * partial aggregation of the per-doc stats, then a strata-sized
    * rollup — the full corpus never shuffles twice and never windows.
    */
  def datasheet(df: DataFrame, textCol: String, idCol: String,
                strataCol: String): DataFrame = {
    val text = col(s"`$textCol`")
    val blank = length(trim(text)) === 0
    val fp = when(blank, concat(lit("__empty__:"), col(s"`$idCol`").cast("string")))
      .otherwise(graft.functions.TextFns.fingerprint(text))
    val perFp = df
      .where(text.isNotNull)
      .groupBy(col(s"`$strataCol`").as("stratum"), fp.as("__ds_fp"))
      .agg(count(lit(1)).as("__ds_c"),
        sum(graft.functions.TextFns.tokenCount(text).cast("long")).as("__ds_t"),
        sum(when(blank, 1L).otherwise(0L)).as("__ds_b"))
    perFp.groupBy("stratum").agg(
      sum(col("__ds_c")).as("n_docs"),
      sum(col("__ds_t")).as("n_tokens"),
      sum(col("__ds_b")).as("n_blank"),
      count(lit(1)).as("n_distinct_fp"),
      sum(when(col("__ds_c") > 1, col("__ds_c")).otherwise(0L)).as("n_dup_docs"))
  }

  /** Exact top-`topV` vocabulary of a reference corpus: whitespace tokens
    * ranked by (count DESC, token ASC) — a total order, so the cut is
    * deterministic across engines even when counts tie at the boundary.
    *
    * Shape: one map-combinable token count (the only shuffle), then
    * `orderBy.limit` — Catalyst compiles that pair to
    * TakeOrderedAndProject, which ships at most `topV` rows per
    * partition to the driver-side merge instead of globally sorting the
    * vocabulary (VocabSpec pins the plan). @return (token, cnt).
    */
  def vocabulary(ref: DataFrame, textCol: String, topV: Int): DataFrame = {
    require(topV >= 1, s"topV must be >= 1, got $topV")
    ref.where(col(s"`$textCol`").isNotNull)
      .select(explode(graft.functions.TextFns.tokens(col(s"`$textCol`"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(topV)
  }

  /** Per-document out-of-vocabulary stats against a `vocabulary` frame
    * ((token, …) — extra columns ignored): token count, OOV token count,
    * OOV rate (0.0 for empty documents — no tokens is no evidence of
    * vocabulary mismatch). The coverage signal for "will the tokenizer /
    * LM built on corpus A handle corpus B": rising OOV marks domain
    * drift, encoding damage, or language contamination.
    *
    * Shape: tokens explode map-side, the vocabulary joins as a broadcast
    * (it is topV rows by construction), and the per-doc counts partial-
    * aggregate before the one doc-keyed shuffle; empty docs re-enter by
    * a left join on the (already doc-unique) input frame.
    */
  def oovStats(df: DataFrame, textCol: String, idCol: String,
               vocab: DataFrame): DataFrame = {
    val id = col(s"`$idCol`")
    val tok = df.where(col(s"`$textCol`").isNotNull)
      .select(id.as("id"),
        explode(graft.functions.TextFns.tokens(col(s"`$textCol`"))).as("__t"))
    val voc = broadcast(vocab.select(col("token").as("__vt")).distinct())
    val st = tok.join(voc, tok("__t") === voc("__vt"), "left")
      .groupBy("id").agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__vt").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.where(col(s"`$textCol`").isNotNull).select(id.as("id"))
      .join(st, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Gopher's duplicated-n-gram CHARACTER fraction — the within-document
    * half of the repetition family ([[topNgramFraction]] is the
    * top-n-gram half): the fraction of a document's token character
    * mass covered by n-grams that occur MORE THAN ONCE in that
    * document, overlapping occurrences counted once (union of covered
    * token positions, the paper's no-double-count rule). High values
    * mark generated/templated text that per-gram top-fraction misses
    * when the repetition spreads across many different n-grams.
    *
    * @return (id, n_tok_chars, n_dup_chars, dup_frac) for every
    * non-blank doc; docs shorter than n tokens read 0.0.
    *
    * Shape: every shuffle is doc-keyed — (id, gram) duplicate counting,
    * (id, token-index) covered-position distinct, and the final id
    * rollup — so the operator partitions by document at any corpus
    * size; gram construction is per-row array HOFs (no token
    * self-join).
    */
  def dupNgramCharFraction(df: DataFrame, textCol: String, idCol: String,
                           n: Int): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val id = col(s"`$idCol`").as("id")
    val base = df.where(col(s"`$textCol`").isNotNull &&
        length(trim(col(s"`$textCol`"))) > 0)
      .select(id, graft.functions.TextFns.tokens(col(s"`$textCol`")).as("w"))
    val tokLens = base.select(col("id"),
      posexplode(col("w")).as(Seq("ti", "tok")))
      .select(col("id"), col("ti"), length(col("tok")).as("l"))
    val grams = base.where(size(col("w")) >= n)
      .select(col("id"), explode(transform(
        sequence(lit(0), size(col("w")) - n),
        i => struct(i.as("start"),
          array_join(slice(col("w"), i + 1, lit(n)), " ").as("gram")))).as("s"))
      .select(col("id"), col("s.start"), col("s.gram"))
    val dupStarts = grams.groupBy("id", "gram")
      .agg(count(lit(1)).as("c"), collect_list(col("start")).as("starts"))
      .where(col("c") >= 2)
      .select(col("id"), explode(col("starts")).as("start"))
    val covered = dupStarts
      .select(col("id"),
        explode(sequence(col("start"), col("start") + (n - 1))).as("ti"))
      .distinct()
    val dupChars = tokLens.join(covered, Seq("id", "ti"))
      .groupBy("id").agg(sum(col("l")).as("__dup"))
    val totals = tokLens.groupBy("id").agg(sum(col("l")).as("n_tok_chars"))
    totals.join(dupChars, Seq("id"), "left")
      .select(col("id"), col("n_tok_chars"),
        coalesce(col("__dup"), lit(0L)).as("n_dup_chars"),
        round(coalesce(col("__dup"), lit(0L)).cast("double") /
          col("n_tok_chars"), 6).as("dup_frac"))
  }

  /** Per-document token Shannon ENTROPY — the information-density
    * signal: H = -Σ p·log2(p) over the doc's token distribution, low
    * for repetitive/templated text even when no single n-gram dominates
    * (the repetition family's distributional complement). Computed via
    * the single-pass identity H = log2(N) − (Σ c·log2 c)/N so one
    * aggregation suffices and an oracle can mirror the arithmetic
    * op-for-op.
    *
    * @return (id, n_tokens, n_types, entropy) for every non-null-text
    * doc; token-free docs read (0, 0, 0.0).
    *
    * Shape: token explode map-side, one (id, token) count (partial-
    * aggregated), one id rollup — doc-keyed shuffles only.
    */
  def tokenEntropy(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val base = df.where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$idCol`").as("id"), col(s"`$textCol`").as("__t"))
    val counts = base
      .select(col("id"),
        explode(graft.functions.TextFns.tokens(col("__t"))).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
    val perDoc = counts.groupBy("id").agg(
      sum(col("c")).as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(col("c").cast("double") * log2(col("c"))).as("__clogc"))
    base.select(col("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        when(coalesce(col("n_tokens"), lit(0L)) === 0L, lit(0.0))
          .otherwise(round(log2(col("n_tokens")) -
            col("__clogc") / col("n_tokens"), 6)).as("entropy"))
  }

  /** C4-style LINE-filter battery (Raffel et al. '20, the classic web
    * cleanup) — line-level where [[gopherVerdicts]] is token-level and
    * [[removeBoilerplateLines]] is cross-document: a line KEEPS iff it
    * ends in terminal punctuation (`.` `!` `?`, optionally followed by
    * a closing quote) AND carries at least `minWords` words; a page
    * PASSES iff it has at least `minSentences` sentence marks, no
    * "lorem ipsum", and no curly brace.
    *
    * @return (id, n_lines, n_kept, n_sentences, has_lorem, has_brace,
    * pass, cleaned) — `cleaned` is the kept lines rejoined in order
    * (the C4 transform), NULL when the page fails.
    *
    * Shape: ENTIRELY map-side — line split, per-line tests, counts,
    * and the rebuild are array HOFs in one projection; zero shuffles
    * at any corpus size (the same contract as [[langConsistency]]).
    */
  def c4LineStats(df: DataFrame, textCol: String, idCol: String,
                  minSentences: Int = 5, minWords: Int = 3): DataFrame = {
    require(minSentences >= 1 && minWords >= 1)
    val t = col(s"`$textCol`")
    val keptArr = filter(split(t, "\n"), l =>
      trim(l).rlike("[.!?][\"')\\]]?$") &&
        size(split(trim(l), "\\s+")) >= minWords)
    df.where(t.isNotNull)
      .select(col(s"`$idCol`").as("id"),
        size(split(t, "\n")).cast("long").as("n_lines"),
        size(keptArr).cast("long").as("n_kept"),
        (size(split(t, "[.!?]")).cast("long") - 1L).as("n_sentences"),
        lower(t).contains("lorem ipsum").as("has_lorem"),
        (t.contains("{") || t.contains("}")).as("has_brace"),
        array_join(keptArr, "\n").as("__cleaned"))
      .withColumn("pass",
        col("n_sentences") >= minSentences &&
          !col("has_lorem") && !col("has_brace"))
      .withColumn("cleaned", when(col("pass"), col("__cleaned")))
      .drop("__cleaned")
  }

  /** Within-document LANGUAGE CONSISTENCY (code-switch detection): split
    * each doc into fixed token windows, language-ID every window with
    * the same heuristic as the doc-level call, and report how many
    * windows disagree with the document's own prediction ('und' windows
    * — no evidence — don't count as disagreement). High mix ratios mark
    * concatenation artifacts, boilerplate in a second language, or
    * mislabeled strata that one whole-doc language call averages away.
    *
    * @return (id, lang_pred, n_windows, n_foreign, mix_ratio) for every
    * non-null-text doc; token-free docs read ('und', 0, 0, 0.0).
    *
    * Shape: ENTIRELY map-side — windows, per-window scoring, and the
    * disagreement counts are array HOFs inside one projection; the
    * operator adds ZERO shuffles at any corpus size.
    */
  def langConsistency(df: DataFrame, textCol: String, idCol: String,
                      window: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    import graft.functions.TextFns
    val base = df.where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$idCol`").as("id"),
        TextFns.tokens(lower(col(s"`$textCol`"))).as("ts"))
    val nWin = ceil(size(col("ts")).cast("double") / window).cast("int")
    base
      .withColumn("lang_pred", TextFns.langIdOfTokens(col("ts")))
      .withColumn("wl",
        when(size(col("ts")) === 0, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), nWin - 1), i =>
            TextFns.langIdOfTokens(slice(col("ts"), i * window + 1, lit(window))))))
      .select(col("id"), col("lang_pred"),
        size(col("wl")).cast("long").as("n_windows"),
        size(filter(col("wl"),
          l => l =!= col("lang_pred") && l =!= "und")).cast("long").as("n_foreign"))
      .withColumn("mix_ratio",
        when(col("n_windows") === 0, lit(0.0))
          .otherwise(round(col("n_foreign").cast("double") / col("n_windows"), 6)))
  }

  /** Per-stratum Zipf / type-token vocabulary statistics — the
    * lexical-diversity panel of a corpus datasheet: token occurrences,
    * distinct types, type-token ratio, hapax fraction (types seen
    * once — high for diverse prose, low for templated text), and the
    * top type's share (the other end of the same distribution). Flags
    * generated/boilerplate strata that per-doc repetition metrics
    * ([[topNgramFraction]], [[dupNgramCharFraction]]) miss when the
    * repetition is spread ACROSS documents.
    *
    * @return (stratum, n_tokens, n_types, tt_ratio, hapax_frac,
    * top_share), one row per stratum.
    *
    * Shape: tokens explode map-side into one (stratum, token) count —
    * partial-aggregated before its shuffle — then a strata-sized
    * rollup; nothing is ever keyed finer than (stratum, token).
    */
  def zipfStats(df: DataFrame, textCol: String, stratumCol: String): DataFrame = {
    val tok = df.where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$stratumCol`").as("stratum"),
        explode(graft.functions.TextFns.tokens(col(s"`$textCol`"))).as("t"))
    tok.groupBy("stratum", "t").agg(count(lit(1)).as("n"))
      .groupBy("stratum").agg(
        sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("n") === 1, 1L).otherwise(0L)).as("__hapax"),
        max(col("n")).as("__top"))
      .select(col("stratum"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6).as("tt_ratio"),
        round(col("__hapax").cast("double") / col("n_types"), 6).as("hapax_frac"),
        round(col("__top").cast("double") / col("n_tokens"), 6).as("top_share"))
  }

  /** SOURCE-pair shingle Jaccard matrix — the corpus-level provenance
    * audit (which strata share content), computed on whole-source
    * DISTINCT shingle sets rather than through doc pairs: q80's
    * doc-pair route only sees sources that share near-DUPLICATE docs,
    * while this measures bulk gram overlap between strata even when no
    * single doc pair crosses a dedup threshold (the Dolma/RedPajama-
    * style source audit).
    *
    * @return (src_a, src_b, n_inter, jaccard) for source pairs with at
    * least one shared shingle, src_a < src_b. Pairs that share nothing
    * are absent (enumerating empties would need a source×source cross;
    * consumers treat absence as 0).
    *
    * Shape: one (source, gram)-distinct shuffle, then ONE gram-keyed
    * aggregation that emits each gram's source-pair combinations via
    * array HOFs — no gram self-join, so the gram frame shuffles once.
    * Per-gram fan-out is C(k,2) for a gram in k sources: inherent to
    * the measure (that gram IS evidence for those pairs), bounded by
    * S² per gram with S = #strata, a dimension (~10³ at 100 TB), not a
    * data-scale quantity.
    */
  def sourceShingleJaccard(df: DataFrame, textCol: String,
                           sourceCol: String, n: Int): DataFrame = {
    // blank docs render as a single "" shingle (the kernel's DuckDB split
    // mirror) — without this guard every stratum containing any blank doc
    // would share that gram with every other such stratum
    val sh = df.where(col(s"`$textCol`").isNotNull &&
        length(trim(col(s"`$textCol`"))) > 0)
      .select(col(s"`$sourceCol`").as("src"),
        explode(graft.functions.SketchExpressions
          .wordShingles(col(s"`$textCol`"), n)).as("g"))
      .distinct()
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("n_sh"))
    val pairsPerGram = sh.groupBy("g")
      .agg(sort_array(collect_set(col("src"))).as("ss"))
      .where(size(col("ss")) >= 2)
      .select(explode(flatten(transform(col("ss"), (x, i) =>
        transform(slice(col("ss"), i + lit(2), size(col("ss")) - i - 1), y =>
          struct(x.as("src_a"), y.as("src_b")))))).as("p"))
    val inter = pairsPerGram
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("src").as("src_a"), col("n_sh").as("__na")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("n_sh").as("__nb")), "src_b")
      .select(col("src_a"), col("src_b"), col("n_inter"),
        round(col("n_inter").cast("double") /
          (col("__na") + col("__nb") - col("n_inter")), 6).as("jaccard"))
  }

  /** Count-based n-gram table: the top-`topK` most frequent word n-grams
    * at every order 1..`maxOrder`, with deterministic ranking
    * (count DESC, gram ASC) — the release artifact behind count-based
    * LM probes (membership tests, continuation counts, the
    * "infini-gram"-style index) and the corpus-level complement of the
    * per-doc repetition family ([[topNgramFraction]] asks "is THIS doc
    * repetitive"; this asks "what does the whole corpus repeat").
    *
    * Shape: one `ngram_tuples` generator scan per order (the generator
    * emits grams with a single rolling buffer — an order-of-magnitude
    * cheaper than per-position array slice/join HOFs, measured 23s → 2s
    * at sf0.1), unioned and counted by ONE (ord, gram) hash aggregation
    * with map-side partials; the scans read a single pruned column, so
    * maxOrder scans cost less than one mis-shaped projection. The
    * per-order cut is a rank window partitioned by `ord` — maxOrder
    * partitions, which would be a near-single-partition exchange at
    * scale EXCEPT that Spark's `WindowGroupLimit` pushdown (the q116
    * idiom) keeps only topK rows per order per map task before the
    * shuffle, so the exchange moves ≤ topK × maxOrder × tasks rows
    * regardless of corpus size. Plan-pinned in PlanQualitySpec.
    */
  def ngramCountTable(df: DataFrame, textCol: String,
                      maxOrder: Int, topK: Int): DataFrame = {
    require(maxOrder >= 1, s"maxOrder must be >= 1, got $maxOrder")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val nonBlank = df.where(col(s"`$textCol`").isNotNull &&
      length(trim(col(s"`$textCol`"))) > 0)
    val counted = (1 to maxOrder).map { n =>
      // the generator emits a short doc WHOLE as one shingle (the q65
      // contract); a count TABLE wants strict n-grams, so docs shorter
      // than the order contribute nothing at that order
      nonBlank
        .where(graft.functions.TextFns.tokenCount(col(s"`$textCol`")) >= n)
        .select(expr(s"ngram_tuples(`$textCol`, $n)"))
        .select(lit(n).as("ord"), col("ngram").as("gram"))
    }.reduce(_ union _)
      .groupBy("ord", "gram")
      .agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("ord").orderBy(col("cnt").desc, col("gram").asc)
    counted.withColumn("rank", row_number().over(w))
      .where(col("rank") <= topK)
  }

  /** Term-distribution DRIFT between two corpora — the release-health
    * monitor for "did this acquisition/release shift the vocabulary":
    * per term, counts and unigram probabilities in each corpus plus the
    * term's Jensen–Shannon divergence contribution (base-2; m is the
    * even mixture, one-sided terms contribute only their present side,
    * total JS = Σ contributions ∈ [0, 1]). `minCount` drops tail terms
    * whose individual contributions are float noise (report scope, not
    * probability scope — probabilities are computed over ALL terms
    * first).
    *
    * Shape: one (term) count shuffle per corpus, per-side totals as a
    * bounded scalar read re-entering as literals (the centroid idiom —
    * the projection stays join-free), one full-outer term join —
    * term-dictionary-sized (Zipf). The joined count frame persists for
    * the call (it feeds the totals probe and the projection), owned by
    * the current build ([[graft.core.Frames]]).
    */
  def termDrift(a: DataFrame, b: DataFrame, textCol: String,
                minCount: Long = 1L): DataFrame = {
    def counts(df: DataFrame) = df
      .where(col(s"`$textCol`").isNotNull)
      .select(explode(graft.functions.TextFns.tokens(
        lower(col(s"`$textCol`")))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
    val joined = counts(a).withColumnRenamed("cnt", "cnt_a")
      .join(counts(b).withColumnRenamed("cnt", "cnt_b"),
        Seq("term"), "full_outer")
      .select(col("term"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val t = joined.agg(sum("cnt_a"), sum("cnt_b")).head()
    val (totA, totB) =
      (if (t.isNullAt(0)) 0L else t.getLong(0),
       if (t.isNullAt(1)) 0L else t.getLong(1))
    // empty-side guard: a zero total divides nowhere (its cnt is 0 for
    // every term, and 0-count sides take the otherwise(0.0) branch)
    val pa = col("cnt_a") / lit(math.max(totA, 1L)).cast("double")
    val pb = col("cnt_b") / lit(math.max(totB, 1L)).cast("double")
    val m = (pa + pb) / lit(2.0)
    val side = (p: Column) =>
      when(p > 0, p * log2(p / m) / lit(2.0)).otherwise(lit(0.0))
    val out = joined
      .select(col("term"), col("cnt_a"), col("cnt_b"),
        pa.as("p_a"), pb.as("p_b"),
        (side(pa) + side(pb)).as("js_contrib"))
      .where(col("cnt_a") + col("cnt_b") >= minCount)
    graft.core.Frames.own(a.sparkSession, joined)
    out
  }
}
