package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns
import graft.operators.Dedup

/** Text-analysis + dedup operators over the `documents` table — the
  * training-data-pipeline surface (dedup, fingerprinting, quality, lang-id).
  * Oracles exist where the semantics are SQL-expressible; LSH/SimHash/lang-id
  * are rows-only checked.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  // DuckDB mirror of TextFns.normalize (RE2 'g' flag; Spark replaces all by
  // default): Unicode letter/digit classes + raw-text fallback when the
  // cleaned form is empty. Parameterized by column so title-shaped
  // queries (q118) mirror the same normalization.
  private def cleanedSqlFor(c: String) =
    s"trim(regexp_replace(regexp_replace(lower($c), '[^\\p{L}\\p{N}\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
  private def normSqlFor(c: String) =
    s"(CASE WHEN ${cleanedSqlFor(c)} = '' THEN trim($c) ELSE ${cleanedSqlFor(c)} END)"
  private val normSql = normSqlFor("text")

  def all: Map[String, Q] = defs ++ more

  val defs: Map[String, Q] = Map(
    // F19/S2: content hashing.
    "q30_md5" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), md5(col("text")).as("h"))
        .orderBy("doc_id")
    }),

    // Exact dedup: one representative doc per normalized fingerprint.
    "q31_dedup_exact" -> ((s, dir) => {
      Dedup.exactByFingerprint(
          Tables(s, dir, "documents").where(col("text").isNotNull),
          "text", "doc_id")
        .select("doc_id")
        .orderBy("doc_id")
    }),

    // Token counting (whitespace + BPE-ish pre-tokenizer) + byte/char lengths.
    "q32_token_count" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"),
          size(TextFns.bpeishTokens(col("text"))).cast("long").as("n_bpeish"),
          length(col("text")).cast("long").as("n_chars"),
          octet_length(col("text")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    }),

    // Quality-score components (each independently oracle-checked).
    "q33_quality" -> ((s, dir) => {
      // Single-pass codegen kernel (TextMetricsExpr) — oracle-checks the
      // custom expression directly; the composed TextFns columns are
      // spec-enforced to agree with it (ExtensionIdiomsSpec).
      Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextMetricsExpr.textMetrics(col("text")).as("m"))
        .select(col("doc_id"),
          round(col("m.punct_ratio"), 6).as("punct_ratio"),
          round(col("m.stopword_ratio"), 6).as("stopword_ratio"),
          round(col("m.mean_token_len"), 6).as("mean_token_len"))
        .orderBy("doc_id")
    }),

    // 64-bit document fingerprint — aggregated to dup-cluster sizes.
    "q34_fingerprint" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .groupBy(TextFns.fingerprint(col("text")).as("fp"))
        .agg(count(lit(1)).as("cluster_size"), min("doc_id").as("min_doc_id"))
        .where(col("cluster_size") > 1)
        .orderBy("min_doc_id")
    }),

    // Lang-ID heuristic (oracle: the same marker-set argmax in SQL —
    // struct-lexicographic tie-break mirrored via list_sort).
    "q35_lang_id" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), TextFns.langIdHeuristic(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // MinHash-LSH near-dup pairs: LSH banding does the BLOCKING, exact
    // n-gram Jaccard verifies each blocked candidate — so the output is
    // SQL-expressible and oracle-checked (threshold 0.5; the estimate-only
    // variant Dedup.minhashLshPairs stays spec-verified against the
    // kernel/agg paths). Blocking recall at the banding parameters is part
    // of what the oracle checks: a missed true pair = hash mismatch.
    "q36_minhash_lsh" -> ((s, dir) => {
      Dedup.ngramJaccardViaLsh(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "doc_id", n = 3, threshold = 0.5, numHashes = 64, bands = 16)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    "q37_simhash" -> mkQ37(gated = true),

    // Cross-corpus near-dup (the release diff: which candidate docs
    // near-duplicate the existing corpus) — the EXACT between-corpus
    // inverted-shingle join, so recall is complete by construction and
    // the SQL oracle checks the same semantics (the LSH-blocked variant
    // Dedup.ngramJaccardBetweenViaLsh is the skewed-corpus scale path,
    // spec-verified to agree at this threshold); docs with ids divisible
    // by 7 play the existing corpus.
    "q85_cross_corpus_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      Dedup.ngramJaccardBetween(
          docs.where(pmod(col("doc_id"), lit(7)) === 0),
          docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
          "text", "doc_id", n = 3, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_left", "id_right")
    }),

    // Same cross-corpus semantics through the AllPairs PREFIX-FILTERED
    // route (the corpus-scale path: combined-df global order, cross-side
    // prefix join, exact verify) — oracle-verified against the same SQL
    // as q85, the q38/q60 convention applied to the between family.
    "q86_cross_corpus_prefix" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      Dedup.ngramJaccardBetweenPrefixFiltered(
          docs.where(pmod(col("doc_id"), lit(7)) === 0),
          docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
          "text", "doc_id", n = 3, threshold = 0.5)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_left", "id_right")
    }),

    // n-gram Jaccard pairs — EXACT via the inverted shingle index
    // (oracle-checked): any pair with J >= t shares a shingle, so the
    // shingle self-join finds every qualifying pair; one shuffle on the
    // shingle. The MinHash-LSH-blocked variant (Dedup.ngramJaccardViaLsh)
    // is the alternative when hot shingles skew the index — spec-verified
    // to agree with this one at the bench threshold.
    "q38_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "doc_id", n = 3, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    }),

    // Same exact semantics via AllPairs prefix filtering (the corpus-scale
    // path) — oracle-verified against the same SQL as q38.
    "q60_jaccard_prefix" -> ((s, dir) => {
      Dedup.ngramJaccardPrefixFiltered(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "doc_id", n = 3, threshold = 0.6)
        .withColumn("jaccard", round(col("jaccard"), 4))
        .orderBy("id_a", "id_b")
    })
  )

  val more: Map[String, Q] = Map(
    // Typed Aggregator: deterministic hash-ranked k-per-group sampling with
    // map-side partial aggregation (ships <= k rows per group per partition).
    "q50_group_sample" -> ((s, dir) => {
      graft.functions.GroupSample.sampleKPerGroup(
          Tables(s, dir, "documents"), "lang", "doc_id", k = 5)
        .select(col("grp").as("lang"), col("id").as("doc_id"))
        .orderBy("lang", "doc_id")
    }),

    "q52_corpus_pipeline" -> mkQ52(gated = true),

    // Mergeable Misra-Gries heavy hitters; capacity 64 exceeds the corpus
    // vocabulary, so estimates are exact and the oracle checks them.
    "q58_heavy_hitters" -> ((s, dir) => {
      graft.functions.HeavyHitters.frequentTokens(
        Tables(s, dir, "documents").where(col("text").isNotNull),
        "text", k = 64, topN = 10)
    }),

    "q57_incremental_dedup" -> mkQ57(gated = true),

    "q82_release_pipeline" -> mkQ82(gated = true),

    // The release workflow with ALL THREE optional stages active —
    // novelty pre-filter, boilerplate-line removal (1b), and paragraph
    // near-dup (3b) — gated on the same independent stage-by-stage
    // recomposition as q82, with the 1b leg threaded in. q82 keeps 1b
    // off, so the pair pins both configurations on the driver surface.
    "q114_release_all_stages" -> mkQ82(gated = true, boilerplate = true),

    "q87_incremental_release" -> mkQ87(gated = true),

    // DSIR-style targeted selection: weight every corpus doc by the
    // target-vs-background unigram log-likelihood ratio (target = the
    // q68-convention benchmark slice, ids % 97 == 0), then draw k = 200
    // docs by deterministic Gumbel-top-k importance resampling
    // (P ∝ exp(weight), seeded md5 noise). Fully SQL-expressible — the
    // oracle recomputes both models, the per-doc weight, the exact
    // dyadic Gumbel keys, and the same top-k.
    "q89_dsir_select" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.operators.Selection.dsirSelect(
          docs.where(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(97)) === 0), "text",
          k = 200, seed = 42L)
        .select(col("id").as("doc_id"), round(col("weight"), 6).as("weight"),
          col("n_tokens"))
        .orderBy("doc_id")
    }),

    // Acquisition triage: classify a candidate batch (ids % 7 != 0)
    // against a shipped release (ids % 7 == 0) as exact-dup / near-dup /
    // novel with the best qualifying Jaccard. Exact route (fingerprint
    // join + AllPairs prefix-filtered cross Jaccard) — complete at any
    // threshold, so the DuckDB inverted-index recomposition is a true
    // oracle; the signature-registry route is spec-checked against it.
    "q88_release_diff" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.corpus.ReleaseDiff.classify(
          docs.where(pmod(col("doc_id"), lit(7)) =!= 0),
          docs.where(pmod(col("doc_id"), lit(7)) === 0),
          "text", "doc_id", n = 3, threshold = 0.5)
        .withColumn("best_jaccard", round(col("best_jaccard"), 4))
        .orderBy("doc_id")
    }),

    // Release-diff triage over SHORT strings (titles = first 15 chars)
    // with the τ-bounded edit leg on: candidates with doc_id % 11 == 1
    // become a one-character TYPO of the release doc at
    // doc_id - (doc_id % 7) — guaranteed in-release base, and at 15
    // chars (≤ 2 word shingles) the typo drops shingle Jaccard to
    // ≤ 1/3, so the Jaccard leg calls them novel while the edit leg
    // (distance 1) upgrades them to near. Fully oracled: DuckDB
    // mirrors the fingerprint, shingle-Jaccard, and brute-force
    // levenshtein legs and composes the same verdict.
    "q118_release_diff_edits" -> ((s, dir) => {
      val titles = Tables(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
        .select(col("doc_id"), expr("substring(trim(text), 1, 15)").as("title"))
      val rel = titles.where(pmod(col("doc_id"), lit(7)) === 0)
      val base = titles.where(pmod(col("doc_id"), lit(7)) =!= 0)
      val relOf = titles.select(col("doc_id").as("rid"), col("title").as("rtitle"))
      val cand = base
        .join(relOf, col("rid") === col("doc_id") - pmod(col("doc_id"), lit(7)), "left")
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(11)) === 1 && col("rtitle").isNotNull,
              concat(lit("q"), expr("substring(rtitle, 2)")))
            .otherwise(col("title")).as("title"))
      graft.corpus.ReleaseDiff.classifyWithEdits(cand, rel, "title", "doc_id",
          n = 3, threshold = 0.5, editTau = 1, editMaxLen = 15)
        .withColumn("best_jaccard", round(col("best_jaccard"), 4))
        .orderBy("doc_id")
    }),

    // Containment dedup: documents whose whole shingle set lives inside
    // another document's — the redundancy case Jaccard thresholds miss
    // (short doc embedded in a long one). Oracle: same inverted-index
    // semantics in SQL.
    "q61_containment" -> ((s, dir) => {
      Dedup.containmentPairs(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "doc_id", n = 3)
        .orderBy("id_a", "id_b")
    }),

    // Exact sparse token-cosine pairs over the FULL corpus — the lexical
    // similarity measure SimHash approximates; exact, so it carries the
    // oracle q37 cannot. The operator routes adaptively: this synthetic
    // corpus has a 31-word vocabulary with no Zipf tail, so the AllPairs
    // prefix filter cannot prune (12.3M of 12.5M candidates survive) and
    // the probe densifies token counts into 31-dim vectors and runs the
    // exact all-pairs vec_dot join instead; a Zipfian corpus routes to the
    // prefix index (spec-equal at 3 thresholds). Same pairs either way —
    // the oracle checks the unsliced full-corpus answer.
    "q62_token_cosine" -> ((s, dir) => {
      graft.operators.Similarity.tokenCosinePairsPrefix(
          Tables(s, dir, "documents"),
          "text", "doc_id", threshold = 0.9)
        .withColumn("cosine", round(col("cosine"), 4))
        .orderBy("id_a", "id_b")
    }),

    // Train/test decontamination (the GPT-3/PaLM n-gram overlap rule):
    // docs with id % 97 == 0 play the evaluation benchmark; every other
    // doc sharing ANY word 3-gram with it is flagged with its distinct-
    // gram hit count. Benchmark shingles broadcast — the corpus is never
    // shuffled; oracle mirrors the rule exactly.
    "q68_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.operators.Decontaminate.contaminationHits(
          docs.where(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(97)) === 0), "text", n = 3)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }),

    // Mojibake repair (the ftfy stage every web pipeline runs): per doc,
    // an original with a non-ASCII tail (2 of 3 docs; the third stays
    // ASCII), damaged IN-PLAN by the classic UTF-8-bytes-read-as-Latin-1
    // round trip (encode/decode), then repaired by fix_mojibake — the
    // repair must invert the damage exactly (md5 vs the original) and
    // must NOT touch the ASCII docs (was_repaired false). Oracle builds
    // the identical original and derives was_repaired from byte-vs-char
    // length.
    "q147_mojibake_repair" -> ((s, dir) => {
      val original = when(pmod(col("doc_id"), lit(3)) =!= 0,
          concat(col("text"), lit(" — café № 42 €…")))
        .otherwise(col("text"))
      val damaged = decode(encode(original, "UTF-8"), "ISO-8859-1")
      Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.functions.TextRepairExpr.fixMojibake(damaged).as("rep"),
          damaged.as("dmg"))
        .select(col("doc_id"), md5(col("rep")).as("repaired_md5"),
          (col("rep") =!= col("dmg")).as("was_repaired"))
        .orderBy("doc_id")
    }),

    // Bloom-prefiltered decontamination (the 100 TB route of q68): the
    // benchmark's 4-gram set builds ONE distributed Bloom sketch, the
    // corpus probes it map-side (codegen, zero shuffle), and only
    // possible hits reach the exact verify join — output is exactly the
    // exact rule's (no false negatives; FPs die in the verify join), so
    // the oracle mirrors the plain n-gram intersection.
    "q140_bloom_decontaminate" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.operators.Decontaminate.bloomContaminationHits(
          docs.where(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(97)) === 0), "text", n = 4,
          expectedGrams = 1000000L, fpp = 0.01)
        .select(col("id").as("doc_id"), col("n_hits"))
        .orderBy("doc_id")
    }),

    // Compression-ratio band filter (the Dolma/RefinedWeb one-number
    // quality heuristic): per doc, TWO margin-separated constructions —
    // 'rep' (repeated boilerplate, ratio far below the band) and 'rand'
    // (md5-chain hex, ~4 bits/char, ratio mid-band) — and the filter
    // must keep exactly the 'rand' rows. The exact ratio is a deflater
    // implementation detail, so the oracle checks VERDICTS over the
    // closed-form construction (the q121/q127 idiom), while the spec
    // pins the ratio values into their bands.
    "q143_compress_filter" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val synth = docs.select(col("doc_id"), lit("rep").as("kind"),
          concat(lit("spam ham "),
            expr("repeat('lorem ipsum dolor ', CAST(doc_id % 5 + 20 AS INT))"))
            .as("text"))
        .unionByName(docs.select(col("doc_id"), lit("rand").as("kind"),
          concat(md5(col("doc_id").cast("string")),
            md5((col("doc_id") + 1).cast("string")),
            md5((col("doc_id") + 2).cast("string")),
            md5((col("doc_id") + 3).cast("string"))).as("text")))
      graft.operators.TextStats.compressionBandFilter(synth, "text",
          minRatio = 0.2, maxRatio = 0.95)
        .select(col("doc_id"), col("kind"))
        .orderBy("doc_id", "kind")
    }),

    // Deterministic hash sampling: reproducible 25% corpus sample keyed on
    // the row (md5), not on RNG/partition layout — stable across runs,
    // engines and corpus growth. Oracle mirrors the predicate verbatim.
    "q63_hash_sample" -> ((s, dir) => {
      graft.operators.Sampling.byHash(
          Tables(s, dir, "documents"), "doc_id", fraction = 0.25)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_sampled"), min("doc_id").as("min_doc_id"))
        .orderBy("lang")
    }),

    // Weighted corpus mixing: per-stratum deterministic hash fractions
    // ("keep all English, 40% German, 10% of everything else") — one
    // map-side CASE predicate, reproducible across runs/partitionings/
    // corpus growth. Oracle mirrors the thresholds verbatim.
    "q69_stratified_sample" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedByHash(
          Tables(s, dir, "documents"), "lang", "doc_id",
          Map("en" -> 1.0, "de" -> 0.4), defaultFraction = 0.1)
        .groupBy("lang")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_doc_id"))
        .orderBy("lang")
    }),

    // Token-BUDGET stratified sampling: fill each language to a token
    // budget in deterministic hash order (mixture targets as token
    // shares, not row fractions). Runs the bucket-prefix-sum shape —
    // only each stratum's single boundary bucket sorts at doc
    // granularity; the oracle is the defining per-stratum window cumsum.
    "q83_token_budget_sample" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("lang"), col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.byTokenBudget(docs, "lang", "doc_id",
          "n_tokens", Map("en" -> 5000L, "de" -> 2000L), defaultBudget = 1500L)
        .orderBy("lang", "doc_id")
    }),

    // Exact top-k by score per group ("keep each language's 3 longest
    // docs") through the mergeable bounded-k Aggregator — each partition
    // ships at most k rows per group, vs a window rank shuffling every
    // row. Oracle is the defining row_number window.
    "q84_topk_by_score" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("lang"), col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.functions.GroupSample.topKPerGroupByScore(docs, "lang", "doc_id",
          "n_tokens", k = 3)
        .select(col("grp").as("lang"), col("id").as("doc_id"),
          col("score").cast("long").as("n_tokens"))
        .orderBy("lang", "doc_id")
    }),

    // EPOCH-weighted mixture filling — the upsampling half of corpus
    // mixing: strata whose budget exceeds their token count repeat for
    // whole epochs plus one fractional hash-prefix pass, capped at
    // maxEpochs; oversupplied strata degrade to the q83 downsample. The
    // budgets hit all three regimes at the CORRECTNESS scale (sf0.01:
    // en downsampled, de ~2.5 epochs with the boundary inside epoch 3,
    // the rest at the cap); at the sf0.1 bench scale every stratum
    // downsamples (10x the tokens, same budgets) — regime coverage
    // lives where the hash-compare runs. Oracle = the defining
    // inequality over a window cumsum + generate_series.
    "q90_epoch_mixture" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("lang"), col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Sampling.epochsToBudget(docs, "lang", "doc_id",
          "n_tokens", Map("en" -> 6000L, "de" -> 9000L),
          maxEpochs = 4, defaultBudget = 20000L)
        .orderBy("lang", "doc_id", "epoch")
    }),

    // Exact per-language top-25% by mean token length — the per-group
    // QUANTILE filter (data-dependent k far beyond bounded-k): the
    // score-bucketed prefix-sum shape ranks only each stratum's single
    // rank-boundary bucket at doc granularity. Oracle = the defining
    // row_number window against ceil(f * n).
    "q91_quality_quantile" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("lang"), col("doc_id"),
          TextFns.meanTokenLen(col("text")).as("score"))
      graft.operators.Sampling.topFractionByScore(docs, "lang", "doc_id",
          "score", fraction = 0.25)
        .withColumn("score", round(col("score"), 6))
        .orderBy("lang", "doc_id")
    }),

    // Leakage-safe train/val/test assignment: the split decision hashes
    // the content FINGERPRINT (q31 dedup-key convention), so every
    // normalized-identical copy of a document lands in the same split —
    // map-side, zero shuffle, append-stable. Fractions are binary-exact
    // (0.75/0.125/0.125) so the cumulative hex thresholds are engine-
    // reproducible digit for digit.
    "q92_split_assign" -> ((s, dir) => {
      graft.corpus.Splits.exactDupSafe(
          Tables(s, dir, "documents").where(col("text").isNotNull),
          "text", "doc_id",
          Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // Vocabulary coverage: build the exact top-64 token vocabulary from
    // the held-out reference slice (ids % 97 == 0, the q68 convention),
    // then score every corpus document's OOV rate against it — the
    // domain-drift / tokenizer-coverage signal. Vocabulary cut is the
    // total order (count DESC, token ASC) via TakeOrderedAndProject;
    // stats join the vocab as a broadcast.
    "q93_vocab_oov" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      val vocab = graft.operators.TextStats.vocabulary(
        docs.where(pmod(col("doc_id"), lit(97)) === 0), "text", topV = 64)
      graft.operators.TextStats.oovStats(
          docs.where(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id", vocab)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("oov_rate"), 6).as("oov_rate"))
        .orderBy("doc_id")
    }),

    // PMI collocations: top-30 adjacent token pairs by pointwise mutual
    // information (support floor 5) — the multi-word-vocabulary /
    // tokenizer-merge signal. Arithmetic mirrored literally in the
    // oracle (same op order -> IEEE-identical), cut under the total
    // order (pmi DESC, a, b) via TakeOrderedAndProject.
    "q100_pmi_collocations" -> ((s, dir) => {
      graft.operators.TextStats.pmiTopK(
          Tables(s, dir, "documents").where(col("text").isNotNull),
          "text", k = 30, minCount = 5)
        .withColumn("pmi", round(col("pmi"), 6))
        .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
    }),

    // Boilerplate-line removal (RefinedWeb line-dedup rule): lines whose
    // trimmed form appears in >= 10 distinct docs are site furniture and
    // strip from every doc. The single-line synthetic corpus gets a
    // 2-line footer injected in-plan for ids % 3 == 0 (the q71
    // convention); the footer's df (~n/3) clears the threshold while no
    // organic line repeats (raw-identical text max cluster = 1).
    "q99_boilerplate_lines" -> ((s, dir) => {
      val aug = when(pmod(col("doc_id"), lit(3)) === 0,
        concat(col("text"),
          lit("\n== SITE FOOTER ==\nvisit example dot com")))
        .otherwise(col("text"))
      graft.operators.TextStats.removeBoilerplateLines(
          Tables(s, dir, "documents").where(col("text").isNotNull)
            .select(col("doc_id"), aug.as("text")),
          "text", "doc_id", minDf = 10)
        .select(col("id").as("doc_id"), col("n_removed"), col("scrubbed"))
        .orderBy("doc_id")
    }),

    // Split-leakage audit: after exact-dup-safe split assignment, count
    // per eval split (a) fingerprint overlaps with train — ZERO by
    // construction, the guarantee made driver-visible — and (b) residual
    // NEAR-dup pairs crossing the train boundary (J >= 0.5 via the exact
    // prefix-filtered cross-corpus route) — the leakage only a
    // near-dup-aware (CC-grouped) split would also close. Composes q92 +
    // q86 machinery; oracle recomputes both counts from scratch.
    "q98_split_leakage" -> ((s, dir) => {
      import graft.operators.Dedup
      val frs = Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125)
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      val sp = graft.corpus.Splits.exactDupSafe(docs, "text", "doc_id", frs)
      val fp = when(length(trim(col("text"))) === 0,
          concat(lit("__empty__:"), col("doc_id").cast("string")))
        .otherwise(TextFns.fingerprint(col("text")))
      val keyed = sp.withColumn("fp", fp)
      val train = keyed.where(col("split") === "train")
      val evals = keyed.where(col("split") =!= "train")
      val exactOv = evals.as("e").join(train.as("t"), col("e.fp") === col("t.fp"))
        .groupBy(col("e.split").as("split"))
        .agg(count(lit(1)).cast("long").as("n_exact_overlap"))
      val nonBlank = (d: org.apache.spark.sql.DataFrame) =>
        d.where(length(trim(col("text"))) > 0)
      val near = Dedup.ngramJaccardBetweenPrefixFiltered(
          nonBlank(train), nonBlank(evals), "text", "doc_id",
          n = 3, threshold = 0.5)
        .join(evals.select(col("doc_id").as("id_right"), col("split")), Seq("id_right"))
        .groupBy("split").agg(count(lit(1)).cast("long").as("n_near_pairs"))
      evals.select("split").distinct()
        .join(exactOv, Seq("split"), "left")
        .join(near, Seq("split"), "left")
        .select(col("split"),
          coalesce(col("n_exact_overlap"), lit(0L)).as("n_exact_overlap"),
          coalesce(col("n_near_pairs"), lit(0L)).as("n_near_pairs"))
        .orderBy("split")
    }),

    // Encoding-damage (mojibake) scan: U+FFFD replacement chars + C0
    // control leaks per doc. The synthetic corpus is clean, so damage is
    // injected in-plan for ids % 5 == 0 (the q71 augmented-text
    // convention — identical expression in the oracle); emitted rows are
    // exactly the damaged docs with their counters and ratio.
    "q97_encoding_damage" -> ((s, dir) => {
      val dmg = lit(" corrupt\uFFFD\uFFFDseg\u0007end")
      val t = when(pmod(col("doc_id"), lit(5)) === 0,
        concat(col("text"), dmg)).otherwise(col("text"))
      Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextFns.replacementCharCount(t).as("n_repl"),
          TextFns.controlCharCount(t).as("n_ctrl"),
          round(TextFns.encodingDamageRatio(t), 6).as("damage"))
        .where(col("n_repl") + col("n_ctrl") > 0)
        .orderBy("doc_id")
    }),

    // Source-pair shingle Jaccard matrix: corpus-level provenance audit
    // over whole-source DISTINCT 3-gram sets — bulk stratum overlap even
    // where no single doc pair crosses a dedup threshold (q80 sees only
    // near-dup-mediated source pairs). Exact set semantics, one
    // gram-keyed shuffle with HOF pair fan-out; the oracle mirrors it
    // with an inverted-index join.
    "q102_source_jaccard" -> ((s, dir) => {
      graft.operators.TextStats.sourceShingleJaccard(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "source", n = 3)
        .orderBy("src_a", "src_b")
    }),

    // Gopher dup-n-gram character fraction (n = 5): within-document
    // repetition by UNION of covered token positions (overlaps counted
    // once). The synthetic corpus has zero natural dup 5-grams, so
    // duplication is injected in-plan for ids % 6 == 0 — the doc's
    // first 7 tokens re-appended, which duplicates its first three
    // 5-gram windows (a genuinely overlapping union) plus the appended
    // copy itself; the oracle mirrors the injection expression exactly.
    "q103_dup_ngram_chars" -> ((s, dir) => {
      val w0 = split(trim(col("text")), "\\s+")
      val t = when(pmod(col("doc_id"), lit(6)) === 0,
        concat(col("text"), lit(" "), array_join(slice(w0, 1, 7), " ")))
        .otherwise(col("text"))
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), t.as("text"))
      graft.operators.TextStats.dupNgramCharFraction(docs, "text", "doc_id", n = 5)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Edit-distance similarity SELF-JOIN at tau = 1 (PassJoin segment
    // blocking, full recall — q54 only computes the scalar metric).
    // Strings are the DISTINCT 25-char document prefixes keyed by their
    // min doc id (fuzzy joins run over collapsed keys — exact-duplicate
    // strings are q31's job, and leaving them in makes the OUTPUT
    // quadratic in the duplicate groups, not the algorithm); distance-1
    // twins are planted in-plan (first char replaced, ids % 6 == 0).
    // Oracle: brute-force length-filtered levenshtein join — exact
    // parity, pairs and distances.
    "q104_edit_join" -> ((s, dir) => {
      val s0 = Tables(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
        .groupBy(expr("substring(trim(text), 1, 25)").as("s"))
        .agg(min(col("doc_id")).as("id"))
      // Twin ids live in the NEGATIVE namespace (-id - 1): disjoint from
      // real doc ids at every scale factor, unlike an additive offset that
      // a large corpus's doc_id range could collide with (and the oracle
      // mirroring the same arithmetic would mask the collision).
      val strings = s0.select(col("id"), col("s"))
        .unionByName(s0.where(pmod(col("id"), lit(6)) === 0)
          .select((-col("id") - 1L).as("id"),
            concat(lit("q"), expr("substring(s, 2)")).as("s")))
      graft.operators.EditSimilarity
        .editDistanceSelfJoin(strings, "s", "id", tau = 1)
        .orderBy("id_a", "id_b")
    }),

    // Per-source Zipf / type-token vocabulary panel: lexical diversity
    // per stratum (type-token ratio, hapax fraction, top-type share) —
    // the cross-document repetition signal the per-doc metrics miss.
    "q105_zipf_stats" -> ((s, dir) => {
      graft.operators.TextStats.zipfStats(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "source")
        .withColumnRenamed("stratum", "source")
        .orderBy("source")
    }),

    // Within-doc language consistency (code-switch scan): 20-token
    // windows language-ID'd with the q35 heuristic; windows disagreeing
    // with the doc's own prediction count as foreign. The corpus is
    // monolingual, so a 20-token German marker phrase is injected for
    // ids % 9 == 0 (the injection convention, mirrored in the oracle).
    // Entirely map-side — the operator adds zero shuffles.
    "q107_lang_mix" -> ((s, dir) => {
      val de = "der die das und ist nicht ein zu mit " +
        "der die das und ist nicht ein zu mit der die"
      val t = when(pmod(col("doc_id"), lit(9)) === 0,
        concat(col("text"), lit(" " + de))).otherwise(col("text"))
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), t.as("text"))
      graft.operators.TextStats.langConsistency(docs, "text", "doc_id", window = 20)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Per-source RELEASE REPORT — the wide datasheet a release would
    // publish: dup/blank accounting (q96 machinery), lexical diversity
    // (q105), mean information density (q111), mean doc length; one
    // row per source, composed entirely from individually-oracled
    // operators and re-oracled as a whole.
    "q112_source_report" -> ((s, dir) => {
      import graft.operators.TextStats
      val docs = Tables(s, dir, "documents")
      val nb = docs.where(length(trim(col("text"))) > 0)
      val ds = TextStats.datasheet(docs, "text", "doc_id", "source")
        .select(col("stratum").as("source"), col("n_docs"), col("n_tokens"),
          col("n_blank"), col("n_dup_docs"))
      val z = TextStats.zipfStats(nb, "text", "source")
        .select(col("stratum").as("source"), col("tt_ratio"),
          col("hapax_frac"), col("top_share"))
      val ent = TextStats.tokenEntropy(nb, "text", "doc_id")
        .join(nb.select(col("doc_id").as("id"), col("source")), "id")
        .groupBy("source").agg(round(avg(col("entropy")), 6).as("avg_entropy"))
      ds.join(z, "source").join(ent, "source")
        .withColumn("avg_doc_tokens",
          round(col("n_tokens").cast("double") / col("n_docs"), 6))
        .orderBy("source")
    }),

    // Per-doc token Shannon entropy: the distributional repetition
    // signal (low even when no single n-gram dominates); one-pass
    // identity H = log2(N) - sum(c*log2 c)/N, mirrored op-for-op.
    "q111_token_entropy" -> ((s, dir) => {
      graft.operators.TextStats.tokenEntropy(
          Tables(s, dir, "documents"), "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // C4 line-filter battery (Raffel et al.): terminal-punctuation +
    // min-words line keeps, sentence floor, lorem-ipsum / curly-brace
    // page drops, and the cleaned rebuild — line-level where q67 is
    // token-level and q99 is cross-document. Page-drop triggers and a
    // multi-line tail are injected in-plan (ids % 11 ∈ {0, 1}, the
    // convention); entirely map-side.
    "q110_c4_filter" -> ((s, dir) => {
      val t = when(pmod(col("doc_id"), lit(11)) === 0,
          concat(col("text"), lit(" lorem ipsum {")))
        .when(pmod(col("doc_id"), lit(11)) === 1,
          concat(col("text"),
            lit("\nshort line\nThis line ends properly with words.")))
        .otherwise(col("text"))
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"), t.as("text"))
      graft.operators.TextStats.c4LineStats(docs, "text", "doc_id")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // Per-benchmark-item contamination report: the eval-integrity view
    // q68 can't give — for each benchmark doc (ids % 97 == 0, the q68
    // convention), how many corpus docs share any of its 3-grams and
    // the worst single-doc coverage. Benchmark grams broadcast; the
    // corpus never shuffles.
    "q108_bench_contamination" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.operators.Decontaminate.benchmarkReport(
          docs.where(pmod(col("doc_id"), lit(97)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(97)) === 0), "text", "doc_id")
        .orderBy("bench_id")
    }),

    // Connected components ORACLED: dedup clusters over the q38 exact
    // pair set, labels = cluster-min id — through the DISTRIBUTED
    // pointer-jumping path (the weaker-verified one; the driver-side
    // union-find is spec-equal to it), against a DuckDB RECURSIVE-CTE
    // transitive closure. The one operator whose iteration made it
    // "not SQL-expressible" becomes oracle-checked.
    "q109_cc_clusters" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairs(
          Tables(s, dir, "documents").where(length(trim(col("text"))) > 0),
          "text", "doc_id", n = 3, threshold = 0.6)
        .select("id_a", "id_b")
      Dedup.connectedComponentsDistributed(pairs).orderBy("id")
    }),

    // Shard export manifest (the ship-it step): md5-threshold shard
    // assignment over 8 shards + per-shard row count, token total, and
    // the order-independent id fingerprint a loader audits shard files
    // against. Append-stable and engine-mirrorable by construction
    // (the q92 hash-threshold rule, not a JVM-private hash).
    "q149_shard_manifest" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.corpus.Export.shardManifest(docs, "doc_id", "n_tokens",
          nShards = 8)
        .orderBy("shard")
    }),

    // NEAR-dup-safe split assignment (the leakage-proof split): q109's
    // clusters key the split hash, so near-duplicate docs land in the
    // SAME split by construction — the failure mode q98 audits,
    // prevented at assignment time. Singletons key on their own id.
    // Oracle: recursive-CTE cluster closure + the q92 hash-threshold
    // mirror over the cluster label.
    "q148_neardup_safe_split" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .where(col("text").isNotNull && length(trim(col("text"))) > 0)
      val pairs = Dedup.ngramJaccardPairs(base, "text", "doc_id",
          n = 3, threshold = 0.6)
        .select("id_a", "id_b")
      graft.corpus.Splits.nearDupSafe(
          base.select(col("doc_id")), "doc_id", pairs,
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // Quality-aware dedup survivors: q109's clusters, but per cluster
    // the TOKEN-RICHEST doc survives (ties lowest id) instead of the
    // lowest id — singletons pass through as their own cluster. The
    // oracle recomputes clusters via the recursive-CTE closure and
    // mirrors the survivor window.
    "q134_cluster_survivors" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .where(length(trim(col("text"))) > 0)
      val pairs = Dedup.ngramJaccardPairs(base, "text", "doc_id",
          n = 3, threshold = 0.6)
        .select("id_a", "id_b")
      Dedup.keepBestPerCluster(
          base.select(col("doc_id"),
            TextFns.tokenCount(col("text")).cast("long").as("n_tokens")),
          pairs, "doc_id", "n_tokens")
        .select(col("doc_id"), col("cluster_label"), col("n_tokens"))
        .orderBy("doc_id")
    }),

    // Per-language corpus datasheet: the release-audit aggregate (docs,
    // tokens, blanks, distinct fingerprints, docs in exact-dup clusters)
    // — dup figures use the q31 fingerprint convention so they agree
    // with what exact dedup would collapse. One (lang, fp) shuffle +
    // a strata-sized rollup.
    "q96_corpus_datasheet" -> ((s, dir) => {
      graft.operators.TextStats.datasheet(
          Tables(s, dir, "documents"), "text", "doc_id", "lang")
        .withColumnRenamed("stratum", "lang")
        .orderBy("lang")
    }),

    // CCNet-style percentile tiering: label each doc head/middle/tail by
    // its per-language mean-token-length rank (25/50/25) — labeling, not
    // filtering, so downstream mixes stream tiers at their own rates.
    // Same bucket machinery as q91 generalized to two rank lines; oracle
    // is the defining window rank against the ceil boundaries.
    "q95_percentile_tiers" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("lang"), col("doc_id"),
          TextFns.meanTokenLen(col("text")).as("score"))
      graft.operators.Sampling.percentileBuckets(docs, "lang", "doc_id",
          "score", Seq("head" -> 0.25, "middle" -> 0.5, "tail" -> 0.25))
        .withColumn("score", round(col("score"), 6))
        .orderBy("lang", "doc_id")
    }),

    // Score-proportional soft sampling: each doc keeps with probability
    // = min(1, n_tokens/40) — quality-proportional retention instead of
    // a hard cut. Map-side md5 dyadic uniform (the q89 noise
    // convention), oracle mirrors draw + clamp verbatim.
    "q94_soft_sample" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
        .withColumn("keep_p", least(lit(1.0), col("n_tokens") / 40.0))
      graft.operators.Sampling.byScoreProbability(docs, "doc_id", "keep_p", seed = 7L)
        .select(col("doc_id"), col("n_tokens"), round(col("keep_p"), 6).as("keep_p"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition filter: documents whose single most frequent
    // word 2-gram takes > 10% of all their 2-grams (boilerplate /
    // generated-text signal).
    "q65_repetition" -> ((s, dir) => {
      graft.operators.TextStats.topNgramFraction(
          Tables(s, dir, "documents"), "text", "doc_id", n = 2)
        .where(col("top_fraction") > 0.1)
        .select(col("id").as("doc_id"), col("n_ngrams"),
          round(col("top_fraction"), 6).as("top_fraction"))
        .orderBy("doc_id")
    }),

    // Gopher-style quality battery: 4-rule verdict per document (token
    // floor, mean token length bounds, stopword-ratio floor, top-bigram
    // repetition cap) — the classic pre-training quality filter, composed
    // from the single-pass metrics kernel + the repetition aggregate.
    "q67_gopher_rules" -> ((s, dir) => {
      graft.operators.TextStats.gopherVerdicts(
          Tables(s, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("n_fail"), col("pass"))
        .orderBy("doc_id")
    }),

    // PII redaction (the C4/CCNet release-scrub pass): per-doc match
    // counts per rule + the md5 of the redacted text. The synthetic corpus
    // carries no PII, so each doc gets a DETERMINISTIC contact line
    // synthesized in-plan (identically in the oracle) — the redaction
    // rules then have real work on every row. Map-side regexp chains,
    // zero shuffle; patterns are RE2-safe so the oracle runs them
    // verbatim.
    "q71_pii_redact" -> ((s, dir) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"), lit("@example.com or +1 555-0"),
        lpad(pmod(col("doc_id"), lit(1000)).cast("string"), 3, "0"), lit("-1234 from 10.0."),
        pmod(col("doc_id"), lit(256)).cast("string"), lit(".77"))
      Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          graft.operators.Pii.matchCount(aug, graft.operators.Pii.rules(0)._1)
            .cast("long").as("n_emails"),
          graft.operators.Pii.matchCount(aug, graft.operators.Pii.rules(1)._1)
            .cast("long").as("n_ips"),
          graft.operators.Pii.matchCount(aug, graft.operators.Pii.rules(2)._1)
            .cast("long").as("n_phones"),
          md5(graft.operators.Pii.redact(aug)).as("redacted_md5"))
        .orderBy("doc_id")
    }),

    // Unigram-LM quality score (CCNet's perplexity filter with the KenLM
    // swapped for a corpus-trained unigram model): train = one token
    // aggregation (vocab-sized table), score = explode + broadcast-join +
    // one shuffle on the doc id. Low scores = improbable token streams.
    "q72_unigram_logprob" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val uni = graft.operators.LmScore.trainUnigram(docs, "text")
      graft.operators.LmScore.scoreDocs(docs, "text", "doc_id", uni, oovLogp = -12.0)
        .select(col("id").as("doc_id"), round(col("mean_logp"), 6).as("mean_logp"),
          col("n_tokens"))
        .orderBy("doc_id")
    }),

    // Bigram-LM quality score with interpolation backoff — the
    // CCNet-faithful upgrade of q72: each adjacent pair scores
    // log10(λ·p(w2|w1) + (1−λ)·p(w2)), so word salad (common unigrams,
    // improbable transitions) scores low where the unigram model is
    // blind. λ = 0.75 keeps both interpolation factors exact in IEEE
    // (the oracle mirrors the arithmetic literally).
    "q78_bigram_logprob" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val uni = graft.operators.LmScore.unigramProbs(docs, "text")
      val big = graft.operators.LmScore.bigramProbs(docs, "text")
      graft.operators.LmScore.scoreDocsBigram(docs, "text", "doc_id", big, uni,
          lambda = 0.75, pFloor = 1e-12, logFloor = -12.0)
        .select(col("id").as("doc_id"),
          round(col("mean_logp"), 6).as("mean_logp"), col("n_bigrams"))
        .orderBy("doc_id")
    }),

    // Exact-substring dedup signal (Lee et al. ACL'22): per-doc fraction
    // of token positions covered by a 5-token span occurring more than
    // once in the corpus. The positional k-gram analogue of their
    // suffix-array byte ranges — see TextStats.dupSpanCoverage.
    "q73_dup_spans" -> ((s, dir) => {
      graft.operators.TextStats.dupSpanCoverage(
          Tables(s, dir, "documents"), "text", "doc_id", k = 5)
        .select(col("id").as("doc_id"), col("covered_tokens"),
          col("n_tokens"), col("dup_coverage"))
        .orderBy("doc_id")
    }),

    // Sequence packing (concat-and-chunk, the GPT-style training layout):
    // each doc's token span in the id-ordered concatenated stream + the
    // 512-token chunk its first token lands in. Runs the DISTRIBUTED
    // prefix sum (range partition + pinned partition index + metadata
    // offsets) — never a single-partition global window.
    "q75_pack_chunks" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
        .select(col("doc_id"),
          TextFns.tokenCount(col("text")).cast("long").as("len"))
      graft.operators.Packing.packChunks(docs, "doc_id", "len", capacity = 512L)
        .select(col("doc_id"), col("n_tokens"), col("start_token"),
          col("end_token"), col("chunk_id"), col("offset_in_chunk"))
        .orderBy("doc_id")
    }),

    // Exact-substring dedup as a TRANSFORM (Lee et al. ACL'22's actual
    // pass): remove every token position covered by a corpus-duplicated
    // 5-token span and reassemble the scrubbed text — the removal
    // counterpart of q73's coverage score, over the same positional-gram
    // index. Oracle mirrors the construction exactly (1-based positions).
    "q76_remove_dup_spans" -> ((s, dir) => {
      graft.operators.TextStats.removeDupSpans(
          Tables(s, dir, "documents"), "text", "doc_id", k = 5)
        .select(col("id").as("doc_id"), col("n_kept"), col("scrubbed"))
        .orderBy("doc_id")
    }),

    // Paragraph-granular near-dup: segment each doc into 16-token windows
    // (this corpus is single-line — the blank-line splitter is the
    // layout-aware alternative, spec-verified on a planted fixture),
    // find paragraph pairs through the length-ROUTED operator
    // (nearDupDocPairsAuto): paragraphs short enough for LSH banding
    // recall to be probabilistic go through the exact inverted-shingle
    // index, long ones through MinHash-LSH — the routing is lossless for
    // qualifying pairs (margin proof in the operator's Scaladoc). These
    // 16-token windows all sit under the exact-route cutoff, so the
    // DuckDB oracle can still check the routed operator exactly.
    "q77_paragraph_neardup" -> ((s, dir) => {
      val paras = graft.operators.Paragraphs.splitTokenWindows(
        Tables(s, dir, "documents"), "text", "doc_id", window = 16)
      graft.operators.Paragraphs.nearDupDocPairsAuto(paras, shingleN = 3,
          threshold = 0.5, knownMaxShingles = Some(16 - 3 + 1))
        .withColumn("max_jaccard", round(col("max_jaccard"), 4))
        .orderBy("doc_a", "doc_b")
    }),

    // Corpus novelty vs a reference corpus (the inverse of
    // decontamination — "is this new data worth ingesting"): per
    // candidate doc (ids not divisible by 10), the fraction of its
    // distinct word 3-grams NOT already covered by the reference corpus
    // (ids divisible by 10). Broadcast reference probe; oracle mirrors
    // the rule exactly.
    "q81_novelty" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      graft.operators.Decontaminate.noveltyScore(
          docs.where(pmod(col("doc_id"), lit(10)) =!= 0), "text", "doc_id",
          docs.where(pmod(col("doc_id"), lit(10)) === 0), "text", n = 3)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_known"),
          col("novelty"))
        .orderBy("doc_id")
    }),

    // Source-overlap provenance audit: near-dup pairs re-attached to
    // their `source` labels and aggregated to (src_a, src_b) — which
    // sources copy from each other, the provenance/contamination matrix
    // a release audit runs. Pairs come from the EXACT inverted-index
    // route (complete at the threshold, so the oracle can mirror it);
    // source pairs are order-normalized with least/greatest.
    "q80_source_overlap" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(
        docs.where(length(trim(col("text"))) > 0), "text", "doc_id",
        n = 3, threshold = 0.5)
      val src = docs.select(col("doc_id"), col("source"))
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("__sa")), "id_a")
        .join(src.select(col("doc_id").as("id_b"), col("source").as("__sb")), "id_b")
        .select(least(col("__sa"), col("__sb")).as("src_a"),
          greatest(col("__sa"), col("__sb")).as("src_b"), col("jaccard"))
        .groupBy("src_a", "src_b")
        .agg(count(lit(1)).as("n_pairs"),
          round(avg(col("jaccard")), 4).as("mean_jaccard"))
        .orderBy("src_a", "src_b")
    }),

    // Chunk MATERIALIZATION (the step after q75's span assignment): every
    // token maps to its global stream position through the distributed
    // prefix sum, groups by 512-token chunk, and each chunk reassembles
    // its slice in order — md5 of the assembled text is the compact
    // correctness witness (oracle rebuilds the same stream with a window
    // cumsum + ordered string_agg).
    "q79_pack_assemble" -> ((s, dir) => {
      graft.operators.Packing.assembleChunks(
          Tables(s, dir, "documents"), "text", "doc_id", capacity = 512L)
        .orderBy("chunk_id")
    }),

    // Custom Generator table function: ngram_tuples(text, 3) — one row per
    // positional word 3-gram (registered in the function registry).
    "q51_ngram_generator" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), expr("ngram_tuples(text, 3)"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_ngrams"), min("ngram").as("first_ngram"))
        .orderBy("doc_id")
    }),

    // Language identification over injected multilingual text (the
    // q127/q147 in-plan construction idiom): per doc, a held-out
    // sentence in one of the model languages (doc_id % k), with a
    // short-text row (% 97 → "und" by evidence) and a Georgian row
    // (% 11 → "und" by the OOV-gap floor: an unseen script lands on
    // the smoothed OOV mass in every language, gap exactly 0). The oracle re-derives
    // the ENTIRE fixed trigram model from the same seed literals in SQL
    // and mirrors scoring, argmax, margin, and both fallbacks.
    "q150_langid_injected" -> ((s, dir) => {
      val k = langSnippets.size
      val body = langSnippets.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val txt = when(pmod(col("doc_id"), lit(97)) === 0, lit("ab"))
        .otherwise(concat(
          when(pmod(col("doc_id"), lit(11)) === 5, lit(unkSnippet))
            .otherwise(body),
          lit(" #"), col("doc_id").cast("string")))
      graft.operators.LangId.classify(
          Tables(s, dir, "documents").select(col("doc_id"), txt.as("t")), "t")
        .select(col("doc_id"), col("lang"),
          round(col("lang_conf"), 6).as("lang_conf"))
        .orderBy("doc_id")
    }),

    // Language histogram over the REAL corpus text — the operator a
    // crawl pipeline runs right after q128's extraction to mint the
    // `lang` column every per-language stage consumes. Map-side kernel,
    // zero shuffle before the lang-cardinality histogram.
    "q151_langid_corpus" -> ((s, dir) => {
      graft.operators.LangId.classify(
          Tables(s, dir, "documents").where(col("text").isNotNull), "text")
        .groupBy(col("lang").as("lang_pred"))
        .agg(count(lit(1)).as("n_docs"), min("doc_id").as("min_doc_id"))
        .orderBy("lang_pred")
    }),

    // The crawl-to-language chain, oracled end to end: per doc a FULL
    // HTTP response whose body is an encoded HTML page carrying a
    // held-out sentence in one of the model languages (the non-Latin-1
    // -encodable ones shipped under a UTF-8 header, the rest Latin-1;
    // every second capture additionally CHUNKED), pushed through the
    // REAL production path — Warc.httpResponses (HTTP split) →
    // dechunk_http_body (transfer framing) → decode_http_body (header
    // charset) → html_text (extraction) → LangId.classify. Every
    // byte-level stage must be exact for the final language call to
    // match the oracle's closed-form mirror (framing or decode damage
    // shifts grams; extraction damage shifts text) — this is q128's
    // missing last mile: raw crawl bytes to the `lang` column.
    "q154_crawl_langid" -> ((s, dir) => {
      val k = langSnippets.size
      val snippet = langSnippets.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val pageText = concat(snippet, lit(" #"), col("doc_id").cast("string"))
      val html = concat(
        lit("<html><head>" +
          "<script>var x = \"decoy charset=utf-16le\";</script></head>" +
          "<body><p>"),
        pageText, lit("</p></body></html>"))
      // non-Latin-1-encodable snippets (ru/zh) ship under a UTF-8
      // declaration; everything else under Latin-1 — both legs decode
      // back to the identical closed-form text, so the oracle is
      // charset-blind
      val latinIdxs = langSnippets.zipWithIndex.collect {
        case ((_, t), i) if java.nio.charset.StandardCharsets.ISO_8859_1
          .newEncoder().canEncode(t) => i.toLong
      }
      val isLatin = pmod(col("doc_id"), lit(k)).isInCollection(latinIdxs)
      // every second capture additionally ships CHUNKED (one chunk +
      // terminator) — the PRODUCTION dechunk wiring inside
      // pageDocsFromRecords must strip the framing before the charset
      // decode or the size line corrupts the page; the oracle is
      // framing-blind (same closed-form text either way)
      val chunked = pmod(col("doc_id"), lit(2)) === 0
      val head = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
        when(isLatin, lit("ISO-8859-1")).otherwise(lit("UTF-8")),
        lit("\r\n"),
        when(chunked, lit("Transfer-Encoding: chunked\r\n")).otherwise(lit("")),
        lit("\r\n"))
      val bodyB = when(isLatin, encode(html, "ISO-8859-1"))
        .otherwise(encode(html, "UTF-8"))
      val framed = when(chunked, concat(
          encode(concat(lower(hex(length(bodyB))), lit("\r\n")), "UTF-8"),
          bodyB,
          lit("\r\n0\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        .otherwise(bodyB)
      val payload = concat(encode(head, "UTF-8"), framed)
      val recs = Tables(s, dir, "documents")
        .select(lit("mem://crawl_langid.warc").as("path"),
          col("doc_id").as("offset"),
          concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          payload.as("payload"),
          lit(true).as("valid"), lit("response").as("warc_type"))
      val pages = graft.corpus.CrawlPipeline.pageDocsFromRecords(
        recs, docId = col("offset"))
      graft.operators.LangId.classify(pages, "text")
        .select(col("doc_id"), col("lang"),
          round(col("lang_conf"), 6).as("lang_conf"))
        .orderBy("doc_id")
    }),

    // CCNet's defining multilingual-curation composition, end to end:
    // language id over injected multilingual text (the q150 idiom, with
    // a per-doc repetition knob so LM scores VARY inside a language) →
    // "und" rows excluded (no per-language stage can consume them) →
    // per-LANGUAGE unigram LM scores (one plan, no driver loop;
    // LmScore.trainUnigramBy / scoreDocsBy) → per-language percentile
    // tiers head/middle/tail 25/50/25 on the ROUNDED score (ranking raw
    // float means would let last-ulp summation-order noise flip tier
    // boundaries across engines; 6-dp rounding is this repo's float
    // determinism convention) → tail dropped (CCNet ships head+middle)
    // → per-language TOKEN BUDGETS filled in deterministic hash order
    // (byTokenBudget's bucket prefix sum — no stratum ever funnels
    // through one partition). The oracle recomposes ALL FOUR stages in
    // SQL: the full langid model, the per-language LM, the tier
    // windows, and the budget cumsum.
    "q158_ccnet_release" -> ((s, dir) =>
      ccnetCompose(s, ccnetInjected(s, dir))),

    // Epoch UPSAMPLING per language — the other half of real
    // multilingual mixtures (CCNet/LLaMA-style: low-resource languages
    // repeat for several epochs while high-resource ones downsample).
    // Same injected corpus and langid → per-language-LM → tier chain as
    // q158, but the budget stage is `Sampling.epochsToBudget`: en's
    // budget forces a downsample, ko's a multi-epoch repeat capped at
    // maxEpochs, the default lands the boundary INSIDE an epoch — all
    // three regimes at the correctness scale (at sf0.1 everything
    // downsamples; regime coverage lives where the hash-compare runs,
    // the q90 note). Oracle: the shared four-stage recomposition plus
    // the defining epoch inequality over a window cumsum.
    "q162_ccnet_epochs" -> ((s, dir) =>
      ccnetCompose(s, ccnetInjected(s, dir), budgetStage = Some(kept =>
        graft.operators.Sampling.epochsToBudget(kept,
            "lang", "doc_id", "n_tokens",
            Map("en" -> 250L, "ko" -> 2000L),
            maxEpochs = 3, defaultBudget = 900L)
          .select(col("doc_id"), col("lang"), col("tier"),
            col("mean_logp"), col("n_tokens"), col("epoch"))
          .orderBy("doc_id", "epoch")))),

    // The MISSING CCNet stage, in CCNet's published order: per-language
    // PARAGRAPH-HASH dedup between language id and LM training
    // (Paragraphs.dedupFirstByShard — min_by winner aggregate, no
    // copy-set window). The injected corpus plants a shared per-language
    // boilerplate paragraph on most docs; without this stage its tokens
    // flood every language's unigram LM and distort the 25/50/25 tier
    // boundaries (CcnetDedupSpec pins the distortion and its removal).
    // Oracle: the q158 four-stage recomposition with the dedup layer
    // spliced between `docs1` and `ltok` — surviving paragraphs are the
    // min-doc rows per (lang, fingerprint).
    "q163_ccnet_dedup" -> ((s, dir) =>
      ccnetCompose(s, ccnetDedupInjected(s, dir),
        dedup = graft.corpus.CcnetPipeline.OneShot())),

    // The same CCNet composition over the REAL CRAWL PATH — raw HTTP
    // bytes to a per-language budgeted release in one plan: each doc
    // ships as a full HTTP response (Latin-1 / UTF-8 charset mix per
    // the snippet's encodability, every second capture CHUNKED — the
    // q154 construction) wrapping an HTML page whose text is the q158
    // injection (snippet + repetition knob, Georgian + short und rows
    // riding along). Warc.httpResponses → dechunk_http_body →
    // decode_http_body → html_text → LangId.classify → the shared
    // tier/budget chain. The ORACLE IS q158's VERBATIM: the
    // closed-form text is framing/charset/extraction-blind, so any
    // byte-level slip in the crawl stages shifts grams or tokens and
    // breaks the language call, the LM scores, the tier boundaries, or
    // the budget fill — the whole multilingual story end to end.
    "q160_crawl_ccnet" -> ((s, dir) => {
      val k = langSnippets.size
      val snippet = langSnippets.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val pageText = when(pmod(col("doc_id"), lit(97)) === 0, lit("ab"))
        .otherwise(concat(
          when(pmod(col("doc_id"), lit(11)) === 5, lit(unkSnippet))
            .otherwise(snippet),
          call_function("repeat",
            concat(lit(" #"), col("doc_id").cast("string")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int"))))
      val html = concat(
        lit("<html><head>" +
          "<script>var x = \"decoy charset=utf-16le\";</script></head>" +
          "<body><p>"),
        pageText, lit("</p></body></html>"))
      val latinIdxs = langSnippets.zipWithIndex.collect {
        case ((_, t), i) if java.nio.charset.StandardCharsets.ISO_8859_1
          .newEncoder().canEncode(t) => i.toLong
      }
      // the Georgian und rows override the snippet with non-Latin-1 text,
      // so they must ship UTF-8 whatever their %k residue says
      val isLatin = pmod(col("doc_id"), lit(k)).isInCollection(latinIdxs) &&
        pmod(col("doc_id"), lit(11)) =!= 5
      val chunked = pmod(col("doc_id"), lit(2)) === 0
      val head = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
        when(isLatin, lit("ISO-8859-1")).otherwise(lit("UTF-8")),
        lit("\r\n"),
        when(chunked, lit("Transfer-Encoding: chunked\r\n")).otherwise(lit("")),
        lit("\r\n"))
      val bodyB = when(isLatin, encode(html, "ISO-8859-1"))
        .otherwise(encode(html, "UTF-8"))
      val framed = when(chunked, concat(
          encode(concat(lower(hex(length(bodyB))), lit("\r\n")), "UTF-8"),
          bodyB,
          lit("\r\n0\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        .otherwise(bodyB)
      val payload = concat(encode(head, "UTF-8"), framed)
      val recs = Tables(s, dir, "documents")
        .select(lit("mem://crawl_ccnet.warc").as("path"),
          col("doc_id").as("offset"),
          concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          payload.as("payload"),
          lit(true).as("valid"), lit("response").as("warc_type"))
      val pages = graft.corpus.CrawlPipeline.pageDocsFromRecords(
        recs, docId = col("offset"))
      ccnetCompose(s, pages.select(col("doc_id"), col("text")))
    }),

    // The FIVE-stage crawl capstone: q160's raw-bytes chain with q163's
    // paragraph-dedup stage spliced in — raw HTTP responses (charset
    // mix + chunked framing) wrapping TWO-block HTML pages (<p>base</p>
    // <p>shared-boilerplate</p> on most model-language rows). html_text
    // collapses the block boundary to ONE newline (its whitespace
    // contract), so the dedup stage runs with the extracted-text
    // convention (splitRegex "\n") — the multi-block extraction
    // discipline is load-bearing: a missing or doubled newline merges
    // or splits paragraphs, flips the dedup winner set, and breaks the
    // tier/budget hash. Oracle: the q163 recomposition with the
    // single-newline separator.
    "q164_crawl_ccnet_dedup" -> ((s, dir) => {
      val k = langSnippets.size
      val snippet = langSnippets.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val boiler = langBoilers.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langBoilers.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val reps = call_function("repeat",
        concat(lit(" #"), col("doc_id").cast("string")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val base = when(pmod(col("doc_id"), lit(97)) === 0, lit("ab"))
        .when(pmod(col("doc_id"), lit(11)) === 5, concat(lit(unkSnippet), reps))
        .otherwise(concat(snippet, reps))
      val hasBoiler = pmod(col("doc_id"), lit(97)) =!= 0 &&
        pmod(col("doc_id"), lit(11)) =!= 5 &&
        pmod(col("doc_id"), lit(5)) =!= 0
      val html = concat(
        lit("<html><head>" +
          "<script>var x = \"decoy charset=utf-16le\";</script></head>" +
          "<body><p>"),
        base,
        when(hasBoiler, concat(lit("</p><p>"), boiler)).otherwise(lit("")),
        lit("</p></body></html>"))
      // the boilerplate is a PREFIX of the snippet, so its chars are a
      // subset — the snippet's Latin-1 encodability decides the page's
      val latinIdxs = langSnippets.zipWithIndex.collect {
        case ((_, t), i) if java.nio.charset.StandardCharsets.ISO_8859_1
          .newEncoder().canEncode(t) => i.toLong
      }
      val isLatin = pmod(col("doc_id"), lit(k)).isInCollection(latinIdxs) &&
        pmod(col("doc_id"), lit(11)) =!= 5
      val chunked = pmod(col("doc_id"), lit(2)) === 0
      val head = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
        when(isLatin, lit("ISO-8859-1")).otherwise(lit("UTF-8")),
        lit("\r\n"),
        when(chunked, lit("Transfer-Encoding: chunked\r\n")).otherwise(lit("")),
        lit("\r\n"))
      val bodyB = when(isLatin, encode(html, "ISO-8859-1"))
        .otherwise(encode(html, "UTF-8"))
      val framed = when(chunked, concat(
          encode(concat(lower(hex(length(bodyB))), lit("\r\n")), "UTF-8"),
          bodyB,
          lit("\r\n0\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        .otherwise(bodyB)
      val payload = concat(encode(head, "UTF-8"), framed)
      val recs = Tables(s, dir, "documents")
        .select(lit("mem://crawl_ccnet_dedup.warc").as("path"),
          col("doc_id").as("offset"),
          concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          payload.as("payload"),
          lit(true).as("valid"), lit("response").as("warc_type"))
      val pages = graft.corpus.CrawlPipeline.pageDocsFromRecords(
        recs, docId = col("offset"))
      ccnetCompose(s, pages.select(col("doc_id"), col("text")),
        dedup = graft.corpus.CcnetPipeline.OneShot(
          splitRegex = "\\n", joinSep = "\n"))
    }),

    // q164's five-stage chain with the SIXTH wire layer in-plan:
    // Content-Encoding. Bodies rotate identity / gzip / deflate /
    // x-gzip by doc_id%4 (compress_http_body, the writer twin) UNDER
    // the existing every-second-doc chunked Transfer-Encoding — so
    // stacked TE-over-CE captures occur and must unwrap in reverse
    // wire order (dechunk, then decompress, then charset-decode). The
    // oracle is q164's VERBATIM: the closed-form recomposition is
    // compression-blind, so any decompression slip — wrong layer
    // order, a salvage bug, a lying-header mishandle — shifts bytes,
    // flips a language call or a dedup winner, and breaks the hash.
    "q166_crawl_gzip_ccnet" -> ((s, dir) => {
      val k = langSnippets.size
      val snippet = langSnippets.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val boiler = langBoilers.zipWithIndex.tail.foldLeft(
          when(pmod(col("doc_id"), lit(k)) === 0, lit(langBoilers.head._2))) {
        case (acc, ((_, t), i)) =>
          acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
      }
      val reps = call_function("repeat",
        concat(lit(" #"), col("doc_id").cast("string")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int"))
      val base = when(pmod(col("doc_id"), lit(97)) === 0, lit("ab"))
        .when(pmod(col("doc_id"), lit(11)) === 5, concat(lit(unkSnippet), reps))
        .otherwise(concat(snippet, reps))
      val hasBoiler = pmod(col("doc_id"), lit(97)) =!= 0 &&
        pmod(col("doc_id"), lit(11)) =!= 5 &&
        pmod(col("doc_id"), lit(5)) =!= 0
      val html = concat(
        lit("<html><head>" +
          "<script>var x = \"decoy charset=utf-16le\";</script></head>" +
          "<body><p>"),
        base,
        when(hasBoiler, concat(lit("</p><p>"), boiler)).otherwise(lit("")),
        lit("</p></body></html>"))
      val latinIdxs = langSnippets.zipWithIndex.collect {
        case ((_, t), i) if java.nio.charset.StandardCharsets.ISO_8859_1
          .newEncoder().canEncode(t) => i.toLong
      }
      val isLatin = pmod(col("doc_id"), lit(k)).isInCollection(latinIdxs) &&
        pmod(col("doc_id"), lit(11)) =!= 5
      val chunked = pmod(col("doc_id"), lit(2)) === 0
      // Content-Encoding rotation: both gzip labels and the zlib
      // deflate form, stacked under chunking on even ids (d%4 ∈
      // {1,2,3} × d%2=0 covers every TE×CE combination)
      val ceMod = pmod(col("doc_id"), lit(4))
      val ceName = when(ceMod === 1, lit("gzip"))
        .when(ceMod === 2, lit("deflate"))
        .when(ceMod === 3, lit("x-gzip"))
        .otherwise(lit(""))
      val head = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset="),
        when(isLatin, lit("ISO-8859-1")).otherwise(lit("UTF-8")),
        lit("\r\n"),
        when(ceMod =!= 0,
          concat(lit("Content-Encoding: "), ceName, lit("\r\n")))
          .otherwise(lit("")),
        when(chunked, lit("Transfer-Encoding: chunked\r\n")).otherwise(lit("")),
        lit("\r\n"))
      val bodyB = when(isLatin, encode(html, "ISO-8859-1"))
        .otherwise(encode(html, "UTF-8"))
      // wire apply order: CE compresses the representation, TE frames it
      val encoded = graft.functions.HttpDecodeExpr
        .compressHttpBody(bodyB, ceName)
      val framed = when(chunked, concat(
          encode(concat(lower(hex(length(encoded))), lit("\r\n")), "UTF-8"),
          encoded,
          lit("\r\n0\r\n\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))))
        .otherwise(encoded)
      val payload = concat(encode(head, "UTF-8"), framed)
      val recs = Tables(s, dir, "documents")
        .select(lit("mem://crawl_gzip_ccnet.warc").as("path"),
          col("doc_id").as("offset"),
          concat(lit("<urn:graft:"), col("doc_id"), lit(">")).as("record_id"),
          concat(lit("http://example.com/doc/"), col("doc_id")).as("target_uri"),
          payload.as("payload"),
          lit(true).as("valid"), lit("response").as("warc_type"))
      val pages = graft.corpus.CrawlPipeline.pageDocsFromRecords(
        recs, docId = col("offset"))
      ccnetCompose(s, pages.select(col("doc_id"), col("text")),
        dedup = graft.corpus.CcnetPipeline.OneShot(
          splitRegex = "\\n", joinSep = "\n"))
    }),

    // INCREMENTAL paragraph-hash dedup against the persistent registry
    // (StreamingParagraphDedup — the q163 stage's streaming twin, the
    // q57 idiom at paragraph granularity): real table text plus a
    // per-source boilerplate paragraph, drained as two id-ordered
    // batches through a fresh registry. DOUBLY checked: the oracle
    // recomposes keep-first paragraph dedup + positional reassembly in
    // SQL (parallel-unnest ordinality + ordered string_agg), and an
    // in-plan gate pins the incremental survivors EQUAL to the one-shot
    // operator's, row for row (registry threading, winner coordinates,
    // and the batch boundary must all be exact).
    "q165_incremental_paradedup" -> mkQ165(gated = true),

    // q158's chain scored by the INTERPOLATED TRIGRAM LM
    // (CcnetPipeline lmOrder = 3 — λ₁·p(w3|w1w2) + λ₂·p(w3|w2) +
    // λ₃·p(w3), the step toward CCNet's real 5-gram perplexity):
    // same corpus, same langid, same tiers and budgets, so the oracle
    // diff isolates the order-3 scorer — the conditional tables, the
    // backoff arithmetic, the n_tokens-not-n_trigrams budget contract.
    "q168_ccnet_trigram" -> ((s, dir) =>
      ccnetCompose(s, ccnetInjected(s, dir), lmOrder = 3))
  )

  private def mkQ165(gated: Boolean): Q = (s, dir) => {
    import graft.streaming.StreamingParagraphDedup.ParagraphRegistry
    val src = pmod(col("doc_id"), lit(3))
    val boiler = when(src === 0, lit(q165Boilers(0)))
      .when(src === 1, lit(q165Boilers(1)))
      .otherwise(lit(q165Boilers(2)))
    val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      .select(col("doc_id"), src.as("src"),
        when(pmod(col("doc_id"), lit(7)) === 0, col("text"))
          .otherwise(concat(col("text"), lit("\n\n"), boiler)).as("text"))
    val cut = docs.agg(max("doc_id")).head().getLong(0) / 2
    val root = java.nio.file.Files.createTempDirectory("graft_q165")
    val ix = new ParagraphRegistry(root.toString + "/ix", buckets = 8)
    // dedupeBatch is EAGER (probe, winner aggregate, append, and the
    // localCheckpoint'd result all run at call time), so the two
    // batches chain sequentially and the registry dir is DEAD once
    // both return — deleted below, before the lazy gate/emit runs
    val s1 = ix.dedupeBatch(docs.where(col("doc_id") <= cut),
      "text", "doc_id", "src", Some(0L))
    val s2 = ix.dedupeBatch(docs.where(col("doc_id") > cut),
      "text", "doc_id", "src", Some(1L))
    val inc = s1.unionByName(s2)
    val out = inc.select(col("doc_id"), col("src"),
      md5(col("text")).as("fp"))
    val emit =
      if (!gated) out.orderBy("doc_id")
      else {
        val pk = (d: org.apache.spark.sql.DataFrame) => d.select(
          concat(col("doc_id"), lit(":"), col("src"), lit(":"),
            md5(col("text"))).as("__pk"))
        val oneShot = graft.operators.Paragraphs
          .dedupFirstByShard(docs, "text", "doc_id", "src")
        Gates.setParityOn(out, pk(inc), pk(oneShot), "__pk")
          .orderBy("doc_id")
      }
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
    finally walk.close()
    emit
  }

  // q165's per-source boilerplate paragraphs (shared VERBATIM by every
  // doc of the source — the dedup clusters); mirrored literally in SQL
  private val q165Boilers = Seq(
    "subscribe to the daily newsletter and never miss an update from this site",
    "all rights reserved contact the editorial team for reprint permissions",
    "share this story with your friends and follow the channel for more")

  /** The shared CCNet composition tail of q158/q160: classify →
    * "und" excluded → per-LANGUAGE unigram LM → 25/50/25 tiers on the
    * ROUNDED score → tail dropped → per-language token budgets. The
    * three stage frames persist across the bucket machinery's
    * multi-pass consumers (the q87 idiom — without it the two exploded
    * LM joins re-ran ~8×; measured 21.9 → 5.8s at sf0.1).
    */
  /** The q158-family injected corpus: per doc a held-out sentence by
    * doc_id % k (Georgian unknown-script rows at % 11 == 5, a short row at
    * % 97 == 0 — both end "und" and must be EXCLUDED downstream), plus
    * 1-3 copies of the per-doc `#id` suffix token so per-language LM
    * means spread into real tiers.
    */
  private def ccnetInjected(s: SparkSession, dir: String): DataFrame = {
    val k = langSnippets.size
    val body = langSnippets.zipWithIndex.tail.foldLeft(
        when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
      case (acc, ((_, t), i)) =>
        acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
    }
    val txt = when(pmod(col("doc_id"), lit(97)) === 0, lit("ab"))
      .otherwise(concat(
        when(pmod(col("doc_id"), lit(11)) === 5, lit(unkSnippet))
          .otherwise(body),
        call_function("repeat",
          concat(lit(" #"), col("doc_id").cast("string")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int"))))
    Tables(s, dir, "documents").select(col("doc_id"), txt.as("text"))
  }

  /** Per-language boilerplate paragraph for the q163 fixture: a PREFIX of
    * the language's own held-out snippet (same language, same script, so
    * the classify verdict over snippet+boilerplate never flips), shared
    * VERBATIM by every boilerplate-carrying doc of the language. Derived
    * in Scala from the single snippet literal; the oracle CASE is emitted
    * from the same derived strings.
    */
  // lazy: langSnippets is declared later in this object (vals initialize
  // in declaration order)
  private lazy val langBoilers: Seq[(String, String)] =
    langSnippets.map { case (l, t) =>
      l -> t.split(" ").take(5).mkString(" ")
    }

  /** q163's injected corpus: q158's text plus, on most model-language
    * rows (doc_id % 5 != 0 carries it; und rows never do), a SECOND
    * blank-line-separated paragraph — the language's shared boilerplate.
    * Without dedup the boilerplate tokens flood every per-language LM
    * and distort tier boundaries; the paragraph-hash stage keeps exactly
    * one copy per language.
    */
  private def ccnetDedupInjected(s: SparkSession, dir: String): DataFrame = {
    val k = langSnippets.size
    val body = langSnippets.zipWithIndex.tail.foldLeft(
        when(pmod(col("doc_id"), lit(k)) === 0, lit(langSnippets.head._2))) {
      case (acc, ((_, t), i)) =>
        acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
    }
    val boiler = langBoilers.zipWithIndex.tail.foldLeft(
        when(pmod(col("doc_id"), lit(k)) === 0, lit(langBoilers.head._2))) {
      case (acc, ((_, t), i)) =>
        acc.when(pmod(col("doc_id"), lit(k)) === i, lit(t))
    }
    val base = concat(body,
      call_function("repeat",
        concat(lit(" #"), col("doc_id").cast("string")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")))
    val txt = when(pmod(col("doc_id"), lit(97)) === 0, lit("ab"))
      .when(pmod(col("doc_id"), lit(11)) === 5,
        concat(lit(unkSnippet),
          call_function("repeat",
            concat(lit(" #"), col("doc_id").cast("string")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int"))))
      .when(pmod(col("doc_id"), lit(5)) === 0, base)
      .otherwise(concat(base, lit("\n\n"), boiler))
    Tables(s, dir, "documents").select(col("doc_id"), txt.as("text"))
  }

  /** The q158-family composition, replumbed through the production API
    * ([[graft.corpus.CcnetPipeline]] — r17): the queries supply only
    * their fixture corpora and stage choices; langid/dedup/LM/tiers/
    * budgets and the stage-persist idiom live in the pipeline. A custom
    * `budgetStage` shapes its own output (q162 adds an epoch column);
    * the default projects the five canonical columns.
    */
  private def ccnetCompose(s: SparkSession, injected: DataFrame,
      budgetStage: Option[DataFrame => DataFrame] = None,
      dedup: graft.corpus.CcnetPipeline.DedupStage =
        graft.corpus.CcnetPipeline.NoDedup,
      lmOrder: Int = 1): DataFrame = {
    val cfg = graft.corpus.CcnetPipeline.Config(
      budgets = Map("en" -> 400L, "zh" -> 250L), defaultBudget = 300L,
      lmOrder = lmOrder, dedup = dedup, budgetStage = budgetStage)
    val out = graft.corpus.CcnetPipeline.run(s, injected, cfg).budgeted
    if (budgetStage.isDefined) out
    else out.select(col("doc_id"), col("lang"), col("tier"),
      col("mean_logp"), col("n_tokens")).orderBy("doc_id")
  }

  // q150 fixtures: held-out sentences (deliberately NOT in
  // LangIdModel.seeds — the check is generalization, not recall);
  // lowercase, apostrophe-free, BMP-only so Spark and DuckDB agree on
  // length/substr/lower semantics.
  private val langSnippets: Seq[(String, String)] = Seq(
    "en" -> "it was a bright cold day in april and the clocks were striking thirteen while people hurried home through the narrow streets",
    "de" -> "es war ein heller kalter tag im april und die uhren schlugen dreizehn während die leute durch die engen straßen nach hause eilten",
    "fr" -> "par une froide et claire journée de printemps les horloges sonnaient treize heures et les gens rentraient chez eux par les rues étroites",
    "es" -> "era un día luminoso y frío de abril y los relojes daban las trece mientras la gente volvía a casa por las calles estrechas",
    "it" -> "era una luminosa e fredda giornata di aprile e gli orologi battevano le tredici mentre la gente tornava a casa per le strade strette",
    "pt" -> "era um dia claro e frio de abril e os relógios batiam as treze enquanto as pessoas voltavam para casa pelas ruas estreitas",
    "ru" -> "это был яркий холодный день в апреле и часы били тринадцать когда люди спешили домой по узким улицам",
    "zh" -> "那是四月里晴朗寒冷的一天钟敲了十三下人们沿着狭窄的街道匆匆回家",
    "ja" -> "四月のよく晴れた寒い日で時計が十三時を打ち人々はせまい通りをいそいで家に帰っていた",
    "ko" -> "사월의 맑고 추운 날이었고 시계가 열세 번을 치는 동안 사람들은 좁은 거리를 지나 서둘러 집으로 돌아갔다",
    "ar" -> "كان يوما باردا مشرقا من ايام ابريل وكانت الساعات تدق الثالثة عشرة بينما كان الناس يسرعون الى بيوتهم عبر الشوارع الضيقة",
    "el" -> "ήταν μια λαμπερή κρύα μέρα του απριλίου και τα ρολόγια χτυπούσαν δεκατρείς καθώς οι άνθρωποι γύριζαν βιαστικά σπίτι μέσα από τους στενούς δρόμους",
    "hi" -> "अप्रैल का एक उजला ठंडा दिन था और घड़ियां तेरह बजा रही थीं जब लोग संकरी गलियों से होकर जल्दी जल्दी घर लौट रहे थे",
    "th" -> "มันเป็นวันที่อากาศหนาวและสดใสในเดือนเมษายน นาฬิกาตีสิบสามครั้ง ขณะที่ผู้คนรีบกลับบ้านผ่านถนนแคบ",
    "he" -> "היה יום בהיר וקר בחודש אפריל והשעונים צלצלו שלוש עשרה בעוד אנשים ממהרים הביתה דרך הרחובות הצרים",
    "fa" -> "روزی روشن و سرد در ماه آوریل بود و ساعت ها سیزده بار زنگ زدند در حالی که مردم از خیابان های تنگ به خانه می شتافتند",
    "tr" -> "nisan ayında parlak soğuk bir gündü ve saatler on üçü vururken insanlar dar sokaklardan evlerine koşuyordu",
    "bn" -> "এপ্রিলের এক উজ্জ্বল ঠান্ডা দিন ছিল আর ঘড়িগুলো তেরোটা বাজাচ্ছিল যখন মানুষ সরু রাস্তা দিয়ে তাড়াতাড়ি বাড়ি ফিরছিল",
    "ta" -> "அது ஏப்ரல் மாதத்தின் ஒளி மிகுந்த குளிர்ந்த நாள் கடிகாரங்கள் பதின்மூன்று அடித்தன மக்கள் குறுகிய தெருக்கள் வழியாக வேகமாக வீடு திரும்பினர்",
    "te" -> "అది ఏప్రిల్ నెలలో ప్రకాశవంతమైన చల్లని రోజు గడియారాలు పదమూడు కొట్టాయి ప్రజలు ఇరుకైన వీధుల గుండా వేగంగా ఇంటికి తిరిగారు")

  // unknown-SCRIPT probe: Georgian is deliberately NOT in the model
  // (Thai and Hebrew graduated into it in r16, Greek in r15), so every
  // trigram lands on the smoothed OOV mass and the gap floor calls it
  // "und"
  private val unkSnippet =
    "ყველა ბედნიერი ოჯახი ერთმანეთს ჰგავს ყოველი უბედური ოჯახი კი თავისებურად არის უბედური"

  // Oracle building blocks: the fixed model re-derived in DuckDB SQL from
  // the SAME seed literals (single source of truth —
  // graft.functions.LangIdModel.seeds), Laplace-smoothed over the global
  // MIXED-ORDER (1/2/3-codepoint) gram vocabulary exactly as
  // LangIdModel.train does — DuckDB substr() is codepoint-based, matching
  // the kernel's codepoint windows.
  private def langModelCtes: String = {
    val seedValues = graft.functions.LangIdModel.seeds
      .map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
    s"""seeds(lang, sd) AS (VALUES $seedValues),
       | stri AS (SELECT lang, substr(sd, CAST(i AS INT), CAST(o AS INT)) AS tri
       |   FROM (SELECT lang, sd, unnest(generate_series(1, length(sd))) AS i FROM seeds)
       |   CROSS JOIN (SELECT unnest([1, 2, 3]) AS o)
       |   WHERE i + o - 1 <= length(sd)),
       | cnt AS (SELECT lang, tri, CAST(count(*) AS DOUBLE) AS c FROM stri GROUP BY 1, 2),
       | tot AS (SELECT lang, sum(c) AS t FROM cnt GROUP BY 1),
       | voc AS (SELECT CAST(count(DISTINCT tri) AS DOUBLE) AS v FROM stri),
       | mdl AS (SELECT lang, tri, ln((c + 1) / (t + v)) AS lp FROM cnt JOIN tot USING (lang), voc),
       | oov AS (SELECT lang, ln(1 / (t + v)) AS olp FROM tot, voc)""".stripMargin
  }

  // Scoring + argmax + margin + fallback mirror over a docs0(doc_id, txt)
  // CTE; yields top(doc_id, lang, avg, mg) plus the und CASE applied by
  // the caller. The und floor interpolates LangId.DefaultMinOovGap.
  // Mirrors the kernel exactly: mixed-order grams, only grams containing
  // a LETTER score (\p{L} ↔ Character.isLetter — the same five Unicode
  // categories, but from RE2's vs the JVM's table; they can diverge on
  // EDGE codepoints across versions, so fixtures and seeds stick to
  // well-established letter blocks where both tables have agreed for
  // decades — see the kernel comment in LangIdExpr), docs with < 3
  // codepoints never score (the kernel's early return).
  private def langScoreCtes: String =
    """dtri AS (SELECT doc_id, g AS tri FROM (
      |   SELECT doc_id, substr(txt, CAST(i AS INT), CAST(o AS INT)) AS g
      |   FROM (SELECT doc_id, txt, unnest(generate_series(1, length(txt))) AS i
      |         FROM docs0 WHERE length(txt) >= 3)
      |   CROSS JOIN (SELECT unnest([1, 2, 3]) AS o)
      |   WHERE i + o - 1 <= length(txt))
      |   WHERE regexp_matches(g, '\p{L}')),
      | dn AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS n FROM dtri GROUP BY 1),
      | sc AS (SELECT d.doc_id, o.lang, sum(CASE WHEN m.lp IS NULL THEN o.olp ELSE m.lp END) AS s
      |   FROM dtri d CROSS JOIN oov o
      |   LEFT JOIN mdl m ON m.lang = o.lang AND m.tri = d.tri
      |   GROUP BY 1, 2),
      | rk AS (SELECT doc_id, lang, s,
      |     row_number() OVER (PARTITION BY doc_id ORDER BY s DESC, lang ASC) AS rn FROM sc),
      | top AS (SELECT r1.doc_id, r1.lang, r1.s / dn.n AS avg, (r1.s - r2.s) / dn.n AS mg
      |   FROM rk r1 JOIN rk r2 ON r1.doc_id = r2.doc_id AND r1.rn = 1 AND r2.rn = 2
      |   JOIN dn ON dn.doc_id = r1.doc_id)""".stripMargin

  private def langSnippetCaseSql: String = langSnippets.zipWithIndex
    .map { case ((_, t), i) => s"WHEN $i THEN '$t'" }
    .mkString("(CASE CAST(doc_id % " + langSnippets.size + " AS INT) ", " ", " END)")

  // q163's shared-boilerplate CASE, emitted from the SAME Scala-derived
  // literals the Spark fixture uses (langBoilers — snippet prefixes)
  private def langBoilerCaseSql: String = langBoilers.zipWithIndex
    .map { case ((_, t), i) => s"WHEN $i THEN '$t'" }
    .mkString("(CASE CAST(doc_id % " + langBoilers.size + " AS INT) ", " ", " END)")

  // the classify mirror's final projection over docs0 + top (shared by
  // q150/q154): und when no trigram, or when the OOV gap (avg minus the
  // argmax language's own smoothed OOV rate) sits under the default
  // floor — interpolated from LangId.DefaultMinOovGap
  private def langVerdictSelect: String =
    s"""SELECT d.doc_id,
      |   CASE WHEN t.doc_id IS NULL
      |          OR (t.avg - ob.olp) < ${graft.operators.LangId.DefaultMinOovGap}
      |        THEN 'und' ELSE t.lang END AS lang,
      |   round(coalesce(t.mg, 0.0), 6) AS lang_conf
      | FROM docs0 d LEFT JOIN top t ON d.doc_id = t.doc_id
      | LEFT JOIN oov ob ON ob.lang = t.lang
      | ORDER BY d.doc_id""".stripMargin

  private[queries] def langidInjectedOracle: String = {
    val snippetCase = langSnippetCaseSql
    (s"""WITH $langModelCtes,
       | docs0 AS (SELECT doc_id,
       |     CASE WHEN doc_id % 97 = 0 THEN 'ab'
       |          WHEN doc_id % 11 = 5 THEN '$unkSnippet' || ' #' || CAST(doc_id AS VARCHAR)
       |          ELSE $snippetCase || ' #' || CAST(doc_id AS VARCHAR) END AS txt
       |   FROM documents),
       | $langScoreCtes
       | $langVerdictSelect""").stripMargin.replaceAll("\n", " ")
  }

  /** q154: the crawl-chain text in closed form (the HTTP split, charset
    * decode, and html_text stages must all be exact for the Spark side
    * to reproduce it) + the same classify mirror as q150.
    */
  private[queries] def crawlLangidOracle: String =
    (s"""WITH $langModelCtes,
       | docs0 AS (SELECT doc_id,
       |     $langSnippetCaseSql || ' #' || CAST(doc_id AS VARCHAR) AS txt
       |   FROM documents),
       | $langScoreCtes
       | $langVerdictSelect""").stripMargin.replaceAll("\n", " ")

  /** q158: all four CCNet stages recomposed in SQL — the full langid
    * model mirror (docs0 carries the repetition-knob injection), the
    * per-language unigram LM (counts / per-language totals), the
    * 25/50/25 tier windows over the ROUNDED mean (the cross-engine
    * float determinism convention), and the hash-order token-budget
    * cumsum (byTokenBudget's defining window).
    */
  /** The shared q158-family prefix: langid model + scoring mirror over
    * the injected docs0, per-language LM, and the 25/50/25 tier windows
    * — everything through the `tiered` CTE.
    */
  private def ccnetInjectedDocs0Sql: String =
    s"""SELECT doc_id,
       |     CASE WHEN doc_id % 97 = 0 THEN 'ab'
       |          WHEN doc_id % 11 = 5 THEN '$unkSnippet' ||
       |            repeat(' #' || CAST(doc_id AS VARCHAR), CAST(doc_id % 3 + 1 AS INT))
       |          ELSE $langSnippetCaseSql ||
       |            repeat(' #' || CAST(doc_id AS VARCHAR), CAST(doc_id % 3 + 1 AS INT))
       |     END AS txt
       |   FROM documents""".stripMargin

  private def ccnetPlainLtokSql: String =
    """ltok AS (SELECT doc_id, lang,
       |     unnest(regexp_split_to_array(trim(txt), '\s+')) AS token
       |   FROM docs1 WHERE trim(txt) <> '')""".stripMargin

  private def ccnetTieredCtes: String =
    ccnetTieredCtesOver(ccnetInjectedDocs0Sql, ccnetPlainLtokSql)

  /** The q158-family prefix parametrized by the injected corpus and the
    * docs1→ltok layer (q163 splices its paragraph-dedup CTEs there; the
    * LM/tier tail is shared verbatim).
    */
  // the default (unigram, order-1) per-language LM block: ltok → lsc —
  // the KenLM stand-in the q158 family scores with
  private def ccnetUnigramLmCtes: String =
    """lcnt AS (SELECT lang, token, CAST(count(*) AS DOUBLE) AS c
      |   FROM ltok GROUP BY 1, 2),
      | ltot AS (SELECT lang, sum(c) AS lt FROM lcnt GROUP BY 1),
      | luni AS (SELECT lang, token, log10(c / lt) AS lp
      |   FROM lcnt JOIN ltot USING (lang)),
      | lsc AS (SELECT l.doc_id, l.lang,
      |     round(avg(coalesce(u.lp, -12.0)), 6) AS mean_logp,
      |     count(*) AS n_tokens
      |   FROM ltok l LEFT JOIN luni u
      |     ON u.lang = l.lang AND u.token = l.token
      |   GROUP BY 1, 2)""".stripMargin

  /** The interpolated-TRIGRAM LM block (q168 — CcnetPipeline's
    * `lmOrder = 3`): per-language conditional trigram/bigram tables +
    * the linear unigram channel, each triple scoring
    * log10(λ₁·p(w3|w1w2) + λ₂·p(w3|w2) + λ₃·p(w3)); positions come
    * from the q165 parallel-unnest ordinality idiom, and λ₃ is written
    * `(1.0 - 0.6 - 0.3)` so DuckDB computes the SAME double the Scala
    * side's `1 - λ₁ - λ₂` produces (0.1 as a literal is a DIFFERENT
    * double; the gap survives round(6) near ties).
    */
  private def ccnetTrigramLmCtes: String =
    """ltokp AS (SELECT doc_id, lang,
      |     unnest(regexp_split_to_array(trim(txt), '\s+')) AS token,
      |     unnest(generate_series(1,
      |       len(regexp_split_to_array(trim(txt), '\s+')))) AS pos
      |   FROM docs1 WHERE trim(txt) <> ''),
      | big AS (SELECT a.doc_id, a.lang, a.token AS w1, b.token AS w2
      |   FROM ltokp a JOIN ltokp b
      |     ON b.doc_id = a.doc_id AND b.pos = a.pos + 1),
      | tri AS (SELECT a.doc_id, a.lang,
      |     a.token AS w1, b.token AS w2, c.token AS w3
      |   FROM ltokp a JOIN ltokp b
      |     ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |   JOIN ltokp c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2),
      | lcnt AS (SELECT lang, token, CAST(count(*) AS DOUBLE) AS c
      |   FROM ltok GROUP BY 1, 2),
      | ltot AS (SELECT lang, sum(c) AS lt FROM lcnt GROUP BY 1),
      | lup AS (SELECT lang, token, c / lt AS p FROM lcnt JOIN ltot USING (lang)),
      | c2 AS (SELECT lang, w1, w2, CAST(count(*) AS DOUBLE) AS c
      |   FROM big GROUP BY 1, 2, 3),
      | s2 AS (SELECT lang, w1, sum(c) AS s FROM c2 GROUP BY 1, 2),
      | p2 AS (SELECT lang, w1, w2, c / s AS p FROM c2 JOIN s2 USING (lang, w1)),
      | c3 AS (SELECT lang, w1, w2, w3, CAST(count(*) AS DOUBLE) AS c
      |   FROM tri GROUP BY 1, 2, 3, 4),
      | s3 AS (SELECT lang, w1, w2, sum(c) AS s FROM c3 GROUP BY 1, 2, 3),
      | p3 AS (SELECT lang, w1, w2, w3, c / s AS p
      |   FROM c3 JOIN s3 USING (lang, w1, w2)),
      | tsc AS (SELECT t.doc_id, t.lang,
      |     avg(log10(coalesce(q3.p, 0.0) * 0.6 + coalesce(q2.p, 0.0) * 0.3 +
      |       coalesce(q1.p, 1e-9) * (1.0 - 0.6 - 0.3))) AS m
      |   FROM tri t
      |   LEFT JOIN p3 q3 ON q3.lang = t.lang AND q3.w1 = t.w1
      |     AND q3.w2 = t.w2 AND q3.w3 = t.w3
      |   LEFT JOIN p2 q2 ON q2.lang = t.lang AND q2.w1 = t.w2 AND q2.w2 = t.w3
      |   LEFT JOIN lup q1 ON q1.lang = t.lang AND q1.token = t.w3
      |   GROUP BY 1, 2),
      | ntok AS (SELECT doc_id, lang, count(*) AS n FROM ltok GROUP BY 1, 2),
      | lsc AS (SELECT n.doc_id, n.lang,
      |     round(coalesce(t.m, -12.0), 6) AS mean_logp,
      |     n.n AS n_tokens
      |   FROM ntok n LEFT JOIN tsc t
      |     ON t.doc_id = n.doc_id AND t.lang = n.lang)""".stripMargin

  private def ccnetTieredCtesOver(docs0Body: String, ltokCtes: String,
                                  lmCtes: String = ccnetUnigramLmCtes): String = {
    val gap = graft.operators.LangId.DefaultMinOovGap
    (s"""$langModelCtes,
       | docs0 AS ($docs0Body),
       | $langScoreCtes,
       | lab AS (SELECT d.doc_id, d.txt,
       |     CASE WHEN t.doc_id IS NULL OR (t.avg - ob.olp) < $gap
       |          THEN 'und' ELSE t.lang END AS lang
       |   FROM docs0 d LEFT JOIN top t ON d.doc_id = t.doc_id
       |   LEFT JOIN oov ob ON ob.lang = t.lang),
       | docs1 AS (SELECT doc_id, lang, txt FROM lab WHERE lang <> 'und'),
       | $ltokCtes,
       | $lmCtes,
       | rkt AS (SELECT doc_id, lang, mean_logp, n_tokens,
       |     row_number() OVER (PARTITION BY lang
       |       ORDER BY mean_logp DESC, doc_id) AS r,
       |     count(*) OVER (PARTITION BY lang) AS n FROM lsc),
       | tiered AS (SELECT doc_id, lang, mean_logp, n_tokens,
       |     CASE WHEN r <= ceil(0.25 * n) THEN 'head'
       |          WHEN r <= ceil(0.75 * n) THEN 'middle'
       |          ELSE 'tail' END AS tier FROM rkt)""").stripMargin
  }

  private[queries] def ccnetReleaseOracle: String =
    ccnetBudgetOracleOver(ccnetTieredCtes)

  /** q168: the q158 recomposition with the LM block swapped for the
    * interpolated trigram ([[ccnetTrigramLmCtes]]); everything else —
    * corpus, langid mirror, tiers, budgets — is q158's verbatim, so the
    * diff isolates the order-3 scorer exactly.
    */
  private[queries] def ccnetTrigramOracle: String =
    ccnetBudgetOracleOver(ccnetTieredCtesOver(
      ccnetInjectedDocs0Sql, ccnetPlainLtokSql, ccnetTrigramLmCtes))

  /** q163: the q158 recomposition with CCNet's paragraph-hash dedup
    * spliced between langid and LM training — paragraphs split on blank
    * lines, fingerprinted with the q31 normalization mirror, and each
    * (lang, fingerprint)'s min-doc_id occurrence kept (the fixture has no
    * intra-document duplicate paragraphs, so the min-doc filter IS the
    * operator's min-(doc, position) winner). Tokens flow from surviving
    * paragraphs straight into the shared LM/tier/budget tail.
    */
  private[queries] def ccnetDedupOracle: String =
    ccnetDedupOracleOver(sepSql = "chr(10) || chr(10)",
      splitRegexSql = "\\n\\s*\\n")

  /** q164: the q163 recomposition with the EXTRACTED-text paragraph
    * convention — html_text collapses block boundaries to one newline,
    * so the separator is chr(10) and the split regex a single \n.
    */
  private[queries] def ccnetCrawlDedupOracle: String =
    ccnetDedupOracleOver(sepSql = "chr(10)", splitRegexSql = "\\n")

  private def ccnetDedupOracleOver(sepSql: String,
                                   splitRegexSql: String): String =
    ccnetBudgetOracleOver(ccnetTieredCtesOver(
      s"""SELECT doc_id,
         |     CASE WHEN doc_id % 97 = 0 THEN 'ab'
         |          WHEN doc_id % 11 = 5 THEN '$unkSnippet' ||
         |            repeat(' #' || CAST(doc_id AS VARCHAR), CAST(doc_id % 3 + 1 AS INT))
         |          WHEN doc_id % 5 = 0 THEN $langSnippetCaseSql ||
         |            repeat(' #' || CAST(doc_id AS VARCHAR), CAST(doc_id % 3 + 1 AS INT))
         |          ELSE $langSnippetCaseSql ||
         |            repeat(' #' || CAST(doc_id AS VARCHAR), CAST(doc_id % 3 + 1 AS INT)) ||
         |            $sepSql || $langBoilerCaseSql
         |     END AS txt
         |   FROM documents""".stripMargin,
      s"""paras AS (SELECT doc_id, lang, para FROM (
         |     SELECT doc_id, lang,
         |       unnest(regexp_split_to_array(txt, '$splitRegexSql')) AS para
         |     FROM docs1)
         |   WHERE trim(para) <> ''),
         | pfp AS (SELECT doc_id, lang, para,
         |     md5(${normSqlFor("para")}) AS fp FROM paras),
         | pkeep AS (SELECT doc_id, lang, para FROM (
         |     SELECT doc_id, lang, para,
         |       min(doc_id) OVER (PARTITION BY lang, fp) AS w FROM pfp)
         |   WHERE doc_id = w),
         | ltok AS (SELECT doc_id, lang,
         |     unnest(regexp_split_to_array(trim(para), '\\s+')) AS token
         |   FROM pkeep)""".stripMargin))

  private def ccnetBudgetOracleOver(ctes: String): String =
    (s"""WITH $ctes,
       | fill AS (SELECT doc_id, lang, tier, mean_logp, n_tokens,
       |     sum(n_tokens) OVER (PARTITION BY lang
       |       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |   FROM tiered WHERE tier <> 'tail')
       | SELECT doc_id, lang, tier, mean_logp,
       |   CAST(n_tokens AS BIGINT) AS n_tokens
       | FROM fill
       | WHERE cum <= CASE lang WHEN 'en' THEN 400 WHEN 'zh' THEN 250
       |   ELSE 300 END
       | ORDER BY doc_id""").stripMargin.replaceAll("\n", " ")

  /** q162: the shared prefix + the defining epoch inequality (the q90
    * mirror) — row d of language s (budget B, kept token total T,
    * hash-ordered inclusive prefix sum cum) appears at epoch k iff
    * (k−1)·T + cum ≤ B, capped at maxEpochs = 3.
    */
  private[queries] def ccnetEpochsOracle: String =
    (s"""WITH $ccnetTieredCtes,
       | fillc AS (SELECT doc_id, lang, tier, mean_logp, n_tokens,
       |     sum(n_tokens) OVER (PARTITION BY lang
       |       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
       |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
       |     sum(n_tokens) OVER (PARTITION BY lang) AS tot,
       |     CASE lang WHEN 'en' THEN 250 WHEN 'ko' THEN 2000
       |       ELSE 900 END AS b
       |   FROM tiered WHERE tier <> 'tail'),
       | ee AS (SELECT doc_id, lang, tier, mean_logp, n_tokens,
       |     CASE WHEN cum > b THEN 0 WHEN tot = 0 THEN 3
       |          ELSE least(3, (b - cum) // tot + 1) END AS ne FROM fillc)
       | SELECT doc_id, lang, tier, mean_logp,
       |   CAST(n_tokens AS BIGINT) AS n_tokens,
       |   CAST(unnest(generate_series(1, CAST(ne AS BIGINT))) AS INTEGER) AS epoch
       | FROM ee WHERE ne >= 1 ORDER BY doc_id, lang, epoch""").stripMargin
      .replaceAll("\n", " ")

  private[queries] def langidCorpusOracle: String =
    (s"""WITH $langModelCtes,
       | docs0 AS (SELECT doc_id, lower(text) AS txt FROM documents WHERE text IS NOT NULL),
       | $langScoreCtes,
       | lab AS (SELECT d.doc_id,
       |     CASE WHEN t.doc_id IS NULL
       |            OR (t.avg - ob.olp) < ${graft.operators.LangId.DefaultMinOovGap}
       |          THEN 'und' ELSE t.lang END AS lang_pred
       |   FROM docs0 d LEFT JOIN top t ON d.doc_id = t.doc_id
       |   LEFT JOIN oov ob ON ob.lang = t.lang)
       | SELECT lang_pred, count(*) AS n_docs, min(doc_id) AS min_doc_id
       | FROM lab GROUP BY lang_pred ORDER BY lang_pred""").stripMargin
      .replaceAll("\n", " ")

  /** SERVING-ONLY variants of the gated queries — see
    * [[VectorQueries.serving]]: measurement-only definitions without the
    * in-plan verification gate, benched alongside the full queries so the
    * BENCH JSON separates operator cost from gate cost.
    */
  val serving: Map[String, Q] = Map(
    "q37_simhash"          -> mkQ37(gated = false),
    "q52_corpus_pipeline"  -> mkQ52(gated = false),
    "q57_incremental_dedup" -> mkQ57(gated = false),
    "q82_release_pipeline" -> mkQ82(gated = false),
    "q114_release_all_stages" -> mkQ82(gated = false, boilerplate = true),
    "q87_incremental_release" -> mkQ87(gated = false),
    "q165_incremental_paradedup" -> mkQ165(gated = false)
  )

  // Incremental release growth: a frozen prior release (ids % 7 == 0,
  // shipped scrubbed, its signature REGISTRY retained) receives the
  // remaining docs via ReleasePipeline.appendBatch — prior text is never
  // re-scanned; the cross-release dedup joins the retained registry
  // only. Not SQL-expressible end-to-end (LSH registry internals), so
  // the plan GATES on appendBatch's exact chaining contract: the same
  // batch re-appended as TWO chained id-ordered halves must produce
  // dedup-boundary survivors EQUAL to the single append's (greedy
  // registry-includes-dropped semantics make this an identity, not a
  // heuristic — see the operator Scaladoc). Any drift in registry
  // threading, band bucketing, or the greedy drop rule breaks parity
  // and zeroes the driver's rows check.
  /** The release-family `documents` load. The bench table is ONE small
    * parquet file (one row group) — an unsplittable scan — and the
    * release pipelines consume it from several independent actions
    * (eager stage checkpoints, novelty/decontaminate probes, stats), so
    * a bare `repartition` would re-run the full-table exchange once PER
    * consuming action (measured r17→r18: +26-63% on q82/q87/q114).
    * So the spread is paid ONCE: one round-robin exchange to
    * `defaultParallelism` partitions, materialized by an eager
    * `localCheckpoint` that every consuming action then reads as a
    * LogicalRDD leaf (no re-scan, no re-exchange, lineage cut at the
    * load). A production corpus is a many-file directory where the scan
    * parallelizes by itself; there the exchange only rebalances.
    */
  private def spreadDocs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
      .localCheckpoint(true)

  private def mkQ87(gated: Boolean): Q = (s, dir) => {
    import graft.corpus.ReleasePipeline
    // Unsplittable-single-file spread, same rationale as mkQ82.
    val docs = spreadDocs(s, dir)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    // The shipped release: PII-scrubbed text (a release ships scrubbed —
    // appendBatch compares post-scrub batch text against it) + registry.
    val relDocs = docs
      .where(pmod(col("doc_id"), lit(7)) === 0 && col("text").isNotNull)
      .select(col("doc_id"), graft.operators.Pii.redact(col("text")).as("text"))
    val priorSig = ReleasePipeline.registryOf(relDocs, "text", "doc_id", 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prior = ReleasePipeline.PriorRelease(relDocs, priorSig)
    val batchAll = docs.where(pmod(col("doc_id"), lit(7)) =!= 0 &&
      pmod(col("doc_id"), lit(97)) =!= 0)
    val cfg = ReleasePipeline.Config()
    // The SERVING computation is exactly one append call — the operation
    // a user pays for. The chained two-append construction exists only to
    // verify split-invariance, so it lives on the GATE side of the bench's
    // serving/gate split (r9 bench-hygiene finding: benching both passes
    // as "serving" overstated single-append cost ~2x).
    val one = ReleasePipeline.appendBatch(prior, batchAll, bench, cfg)
    val out0 = one.newKept.select(col("doc_id"),
      TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
    val out =
      if (!gated) {
        graft.core.Frames.releaseAfterNextAction(s,
          (priorSig +: one.cached): _*)
        out0
      } else {
        val mid = batchAll.agg(expr("approx_percentile(doc_id, 0.5)"))
          .head().getLong(0)
        val r1 = ReleasePipeline.appendBatch(prior,
          batchAll.where(col("doc_id") <= mid), bench, cfg)
        val r2 = ReleasePipeline.appendBatch(r1.toPrior,
          batchAll.where(col("doc_id") > mid), bench, cfg)
        val chained = r1.dedupSurvivors.unionByName(r2.dedupSurvivors)
        graft.core.Frames.releaseAfterNextAction(s,
          (priorSig +: (one.cached ++ r1.cached ++ r2.cached)): _*)
        Gates.setParityOn(out0, chained, one.dedupSurvivors, "doc_id")
      }
    out.orderBy("doc_id")
  }

  // SimHash near-dup pairs. Not SQL-expressible (E[hamming]≈64·angle/π
  // defeats any cosine-threshold oracle), so the plan GATES itself:
  // each emitted pair's EXACT token cosine is computed in-plan
  // (codegen'd token_dot over the pair's posting lists — pairs are
  // few, the join is tiny) and the result collapses to zero rows
  // unless the MEAN cosine clears 0.8. The floor is aggregate, not
  // per-row: this corpus's RANDOM-pair cosine baseline is ~0.63
  // (31-token vocabulary), estimator tails overlap it (observed pair
  // min 0.63/0.85, mean 0.90 at sf0.1/sf0.01), and broken bucketing
  // drags the mean to the baseline — which is exactly what trips the
  // gate.
  private def mkQ37(gated: Boolean): Q = (s, dir) => {
    val docs = Tables(s, dir, "documents").where(length(trim(col("text"))) > 0)
    val pairs = Dedup.simhashPairs(docs, "text", "doc_id", maxDist = 3)
    if (!gated) pairs.select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")
    else {
      val toks = docs.select(col("doc_id").as("id"),
          explode(split(trim(col("text")), "\\s+")).as("t"))
        .groupBy("id", "t").agg(count(lit(1)).as("c"))
      val lists = toks.groupBy("id").agg(
        sort_array(collect_list(struct(col("t"), col("c")))).as("pl"),
        sqrt(sum(col("c") * col("c"))).as("nrm"))
      val dot = graft.functions.TokenDotColumns.tokenDot(col("__pa"), col("__pb"))
      val scored = pairs
        .join(lists.select(col("id").as("id_a"), col("pl").as("__pa"), col("nrm").as("__na")), "id_a")
        .join(lists.select(col("id").as("id_b"), col("pl").as("__pb"), col("nrm").as("__nb")), "id_b")
        .withColumn("cosine", round(dot / (col("__na") * col("__nb")), 4))
      Gates.aggFloor(scored, avg(col("cosine")), 0.8)
        .select("id_a", "id_b", "hamming", "cosine")
        .orderBy("id_a", "id_b")
    }
  }

  // Composite corpus-prep pipeline: annotate -> quality filter -> exact
  // dedup -> LSH near-dup clusters -> representatives. The composite
  // itself is not SQL-expressible (LSH internals), but every stage is
  // individually oracle-checked — so the plan GATES on exact id-parity
  // with an independent stage-by-stage recomposition built from those
  // oracled formulations (tokenCount/q32, qualityScore via the composed
  // Columns rather than the kernel, exactByFingerprint/q31, then the
  // same LSH clustering). Any drift in how run() threads the stages
  // (filter ordering, column plumbing, anti-join orientation) breaks
  // parity and fails the driver's rows-check.
  private def mkQ52(gated: Boolean): Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    // gated: the parity recomposition below runs its own eager actions
    // before the final consumption — manage the pipeline caches here so
    // they survive until the gated query's single consuming action.
    val res = graft.corpus.CorpusPipeline.run(docs,
      graft.corpus.CorpusPipeline.Config(
        minTokens = 3, minQuality = 0.1, nearDupThreshold = 0.9),
      autoRelease = !gated)
    val out =
      if (!gated) res.corpus
      else {
        val refiltered = docs.where(col("text").isNotNull)
          .where(TextFns.tokenCount(col("text")) >= 3 &&
            TextFns.qualityScore(col("text")) >= 0.1)
        // Persisted: consumed twice — eagerly by connectedComponents' edge
        // collect (through the LSH pair pipeline) and lazily by the final
        // anti-join under the parity gate.
        val reExact = Dedup.exactByFingerprint(refiltered, "text", "doc_id")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val rePairs = Dedup.minhashLshPairs(reExact, "text", "doc_id",
          shingleN = 3, threshold = 0.9)
        val reDrop = Dedup.connectedComponents(rePairs)
          .where(col("id") =!= col("label")).select("id")
        val reCorpus = reExact.join(reDrop,
          reExact("doc_id") === reDrop("id"), "left_anti").select("doc_id")
        // Registered AFTER connectedComponents' eager edge collect —
        // includes the pipeline's own caches (autoRelease = false above):
        // everything releases on the gated query's consuming action.
        graft.core.Frames.releaseAfterNextAction(s, (reExact +: res.cached): _*)
        Gates.setParity(res.corpus, reCorpus, "doc_id")
      }
    out.select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("lang_pred"), round(col("quality"), 6).as("quality"))
      .orderBy("doc_id")
  }

  // The full RELEASE workflow (ReleasePipeline.run) with BOTH optional
  // stages active — novelty pre-filter vs an existing release (ids
  // divisible by 10, the q81 convention) and paragraph-granular near-dup
  // — plus benchmark decontamination (ids divisible by 97, the q68
  // convention). The composite is not SQL-expressible, but every stage
  // is individually oracled (q71/q67/q31/q36/q77/q76/q68/q72/q81), so
  // the plan GATES on exact id-parity with an independent stage-by-stage
  // recomposition built directly from the operators: any drift in how
  // run() threads the stages (filter ordering, column plumbing,
  // anti-join orientation, stage insertion points) breaks parity and
  // fails the driver's rows-only check.
  private def mkQ82(gated: Boolean, boilerplate: Boolean = false): Q = (s, dir) => {
    import graft.operators.{Decontaminate, LmScore, Pii, TextStats}
    // The bench table is ONE small parquet file (one row group) — an
    // unsplittable scan, so without this the pipeline's map-heavy stage
    // chain (PII scrub, quality stats, sketch kernels) runs on a single
    // core of the whole machine (guide §2.5: repartition right after an
    // unsplittable read). Applied per-query, not in Tables: the exchange
    // is pure overhead for the ~100 sub-second scan-shaped queries
    // (measured: a blanket spread cost +0.3-0.5s EACH there), and a
    // production deployment's corpus is a many-file directory where the
    // scan parallelizes by itself.
    val docs = spreadDocs(s, dir)
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val ref   = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val cand0 = docs.where(pmod(col("doc_id"), lit(97)) =!= 0 &&
                           pmod(col("doc_id"), lit(10)) =!= 0)
    // `boilerplate` (the q114 variant) turns on stage 1b as well — ALL
    // THREE optional stages active; the recompose below mirrors the
    // insertion point (after scrub, before the quality battery). The
    // benchmark corpus has no high-df lines of its own (max line df ≈ 3
    // at sf0.01, under the default minDf), so the variant also INJECTS
    // site-furniture footers in-plan (the q99 convention) into a third
    // of the candidates — stage 1b must strip them corpus-wide or the
    // parity recompose (which strips them too) diverges; with the stage
    // broken the footers would instead perturb quality, dedup, and
    // novelty downstream.
    val cand =
      if (!boilerplate) cand0
      else cand0.withColumn("text",
        when(pmod(col("doc_id"), lit(3)) === 0,
            concat(col("text"),
              lit("\nSubscribe to our newsletter today\nFollow us on social media")))
          .otherwise(col("text")))
    val cfg = graft.corpus.ReleasePipeline.Config(paragraphDedup = true,
      boilerplateLineDedup = boilerplate)
    val res = graft.corpus.ReleasePipeline.run(cand, bench, cfg, Some(ref))
    val out =
      if (!gated) res.corpus
      else {
        // Eager stage-boundary checkpoints, same shape (and same
        // rationale — see ReleasePipeline.run) as the pipeline under
        // test: the recompose consumes each frame more than once and an
        // un-truncated 8-stage lineage makes driver plan handling, not
        // execution, the cost.
        def staged(df: org.apache.spark.sql.DataFrame) = df.localCheckpoint(true)
        val input = cand.where(col("text").isNotNull)
        val redundant = Decontaminate.noveltyScore(input, "text", "doc_id",
            ref.where(col("text").isNotNull), "text", n = cfg.noveltyN)
          .where(col("novelty") < cfg.noveltyMin).select("id")
        val acq = input.join(redundant, input("doc_id") === redundant("id"),
          "left_anti")
        val scrub = staged(
          acq.select(col("doc_id"), Pii.redact(col("text")).as("text")))
        // 1b (q114 only): the recompose threads the boilerplate-line
        // stage at the same point as the pipeline — the line-df kernel
        // itself is q99-oracled, so the gate's subject stays threading.
        val lineClean =
          if (!cfg.boilerplateLineDedup) scrub
          else staged(TextStats.removeBoilerplateLines(
              scrub, "text", "doc_id", cfg.boilerplateMinDf)
            .where(length(trim(col("scrubbed"))) > 0)
            .select(col("id").as("doc_id"), col("scrubbed").as("text")))
        val qual = lineClean.join(
          TextStats.gopherVerdicts(lineClean, "text", "doc_id")
          .where(col("pass")).select(col("id").as("doc_id")), "doc_id")
        val reExact = staged(Dedup.exactByFingerprint(qual, "text", "doc_id"))
        // Signature frame SHARED with the pipeline (Result.minhashSig, the
        // q57 precomputedSig pattern): the sketch kernel is pure and
        // q36-oracled, so recomputing it here would verify nothing — the
        // gate's subject is stage THREADING, and any divergence between
        // reExact and the pipeline's exact stage still breaks id-parity
        // (a doc missing from the shared sig frame never pairs, survives
        // this recompose, and fails the final set compare).
        val docDrop = Dedup.connectedComponents(
            Dedup.minhashLshPairs(reExact, "text", "doc_id",
              shingleN = cfg.shingleN, threshold = cfg.nearDupThreshold,
              precomputedSig = Some(res.minhashSig)))
          .where(col("id") =!= col("label")).select("id")
        val dd = staged(reExact.join(docDrop,
          reExact("doc_id") === docDrop("id"), "left_anti"))
        // Paragraph PAIR frame SHARED with the pipeline (Result.paraPairs,
        // the same contract as the minhashSig share above): the window
        // split + pair search is pure, q77-oracled, and the single most
        // expensive stage — re-running it here would dominate the gate
        // while verifying a kernel already verified elsewhere. Stage
        // THREADING stays under test: if the recompose's dd diverges from
        // the pipeline's deduped boundary, anti-joining the shared drop
        // set leaves the divergent docs on exactly one side and the final
        // set compare breaks.
        val paraDrop = Dedup.connectedComponents(res.paraPairs.get)
          .where(col("id") =!= col("label")).select("id")
        val pd = dd.join(paraDrop, dd("doc_id") === paraDrop("id"), "left_anti")
        // Single consumer (cln) — no checkpoint; the cln boundary
        // truncates the plan (the ReleasePipeline `fused` convention).
        val desp = TextStats.removeDupSpans(pd, "text", "doc_id",
            k = cfg.spanK)
          .where(col("n_kept") > 0)
          .select(col("id").as("doc_id"), col("scrubbed").as("text"))
        val cln = staged(Decontaminate.clean(desp, "text", "doc_id",
          bench.where(col("text").isNotNull).select(col("text")), "text",
          n = cfg.decontaminateN))
        val scored = LmScore.scoreDocs(cln, "text", "doc_id",
          LmScore.trainUnigram(cln, "text"), cfg.oovLogp)
        val cut = scored
          .agg(expr(s"approx_percentile(mean_logp, ${cfg.lmFloorQuantile})"))
          .head().getDouble(0)
        val reKept = cln.join(
          scored.where(col("mean_logp") >= cut).select(col("id").as("doc_id")),
          "doc_id")
        Gates.setParity(res.corpus, reKept, "doc_id")
      }
    // The shared signature/pair persists are dead once this query's
    // action ran (the pipeline consumed them eagerly; the gate's reuse is
    // inside the plan built above) — release them rather than leak caches
    // per call.
    graft.core.Frames.releaseAfterNextAction(s,
      (res.minhashSig +: res.paraPairs.toSeq): _*)
    out.select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy("doc_id")
  }

  // Incremental near-dup: documents arrive in two batches; each batch
  // dedups against the persistent LSH index built by the earlier ones
  // (the streaming corpus-registry path). Deterministic: greedy
  // keep-lowest-id + fixed hash family. Index internals aren't SQL-
  // mirrorable, so the plan gates on EXACT PARITY with a one-shot batch
  // dedup over the same corpus (Gates.setParity): any incremental/batch
  // divergence emits zero rows and fails the driver's rows-only check.
  private def mkQ57(gated: Boolean): Q = (s, dir) => {
    // Cached: the dedupeBatch passes (two incremental + the parity
    // comparator when gated) share one corpus scan and ONE signature
    // computation — the sketch kernel is the dominant map cost.
    val docs = Tables(s, dir, "documents").where(col("text").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sig = graft.operators.Dedup
      .minhashSignaturesGen(docs, "doc_id", "text", 3, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ixRoots = scala.collection.mutable.ListBuffer.empty[java.nio.file.Path]
    def freshIx() = {
      val root = java.nio.file.Files.createTempDirectory("graft_q57_ix")
      ixRoots += root
      new graft.streaming.StreamingDedup.LshIndex(
        root.toString + "/ix",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.9)
    }
    val ix = freshIx()
    // Batches split at the median id: arrival order consistent with the
    // greedy keep-lowest-id order (the realistic time-ordered stream) —
    // an id-interleaved split would legitimately diverge from one-shot
    // (keep-first-ARRIVED vs keep-lowest-id).
    val mid = docs.agg(expr("approx_percentile(doc_id, 0.5)")).head().getLong(0)
    val s1 = ix.dedupeBatch(docs.where(col("doc_id") <= mid), "text", "doc_id",
      precomputedSig = Some(sig.where(col("id") <= mid)))
    // Compact the index mid-stream (batch 1 appended, batch 2 probes the
    // COMPACTED layout): the maintenance path runs under the driver's
    // parity gate, not just in specs — a compaction that corrupted or
    // dropped index rows would break batch 2's dedup and fail parity.
    ix.compact(s)
    val s2 = ix.dedupeBatch(docs.where(col("doc_id") > mid), "text", "doc_id",
      precomputedSig = Some(sig.where(col("id") > mid)))
    val incremental = s1.select("doc_id").union(s2.select("doc_id"))
    // Comparator pass (gated only): same semantics, but its index would
    // never be probed — skip the partitioned parquet append (and tempdir).
    val out =
      if (!gated) incremental
      else {
        val oneShot = freshIx().dedupeBatch(docs, "text", "doc_id",
          precomputedSig = Some(sig), appendToIndex = false).select("doc_id")
        Gates.setParity(incremental, oneShot, "doc_id")
      }
    // dedupeBatch's heavy work (probes, appends, drop-set checkpoints)
    // ran EAGERLY above; the frames returned here only re-read docs for
    // the final anti-joins. Release the shared persists after the action
    // that consumes this query — not before (the passes above already
    // completed, so registration here cannot fire early).
    graft.core.Frames.releaseAfterNextAction(s, docs, sig)
    // The index dirs are likewise DEAD already: every index read/write
    // happened inside the eager dedupeBatch passes, and the returned
    // frames anti-join only the localCheckpoint'd drop-sets. Delete the
    // temp indexes now instead of leaking one pair per invocation.
    ixRoots.foreach { root =>
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    out.orderBy("doc_id")
  }

  // q71's augmented-text expression and rule patterns, shared verbatim
  // between the Spark plan and the DuckDB oracle (patterns are RE2-safe).
  private val piiAugSql =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1 555-0' || " +
      "lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234 from 10.0.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.77'"
  private val Seq(emailPat, ipPat, phonePat) = graft.operators.Pii.rules.map(_._1)

  /** The q35 language-argmax fragment over a DuckDB token-list
    * expression — shared by the doc-level and window-level scoring in
    * the q107 oracle (identical to the q35 oracle's inline form).
    */
  private def duckLangBest(x: String): String =
    s"""list_sort([
       | struct_pack(score := len(list_filter($x, x -> list_contains(['the','and','of','to','is','in','that','it','with'], x))), lang := 'en'),
       | struct_pack(score := len(list_filter($x, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit'], x))), lang := 'de'),
       | struct_pack(score := len(list_filter($x, x -> list_contains(['le','la','les','et','est','une','que','pour','dans'], x))), lang := 'fr'),
       | struct_pack(score := len(list_filter($x, x -> list_contains(['el','los','las','es','una','que','por','para','como'], x))), lang := 'es'),
       | struct_pack(score := len(list_filter($x, x -> list_contains(['的','是','了','在','我','有','和','不','人'], x))), lang := 'zh')
       |])[-1]""".stripMargin

  val oracles: Map[String, String] = Map(
    "q150_langid_injected" -> langidInjectedOracle,
    "q151_langid_corpus" -> langidCorpusOracle,
    "q154_crawl_langid" -> crawlLangidOracle,
    "q158_ccnet_release" -> ccnetReleaseOracle,
    // q160 shares q158's oracle VERBATIM: the closed-form docs0 text is
    // framing/charset/extraction-blind, so the crawl stages must be
    // byte-exact for the composition to reproduce it
    "q160_crawl_ccnet" -> ccnetReleaseOracle,
    "q162_ccnet_epochs" -> ccnetEpochsOracle,
    "q163_ccnet_dedup" -> ccnetDedupOracle,
    "q168_ccnet_trigram" -> ccnetTrigramOracle,
    "q164_crawl_ccnet_dedup" -> ccnetCrawlDedupOracle,
    // q166 shares q164's oracle VERBATIM: the closed-form recomposition
    // is compression-blind, so the Content-Encoding stage must restore
    // every body byte-exactly for the chain to reproduce it
    "q166_crawl_gzip_ccnet" -> ccnetCrawlDedupOracle,
    // q165: keep-first paragraph dedup + positional reassembly over REAL
    // table text + the planted per-source boilerplate — paragraph
    // ordinality via DuckDB's zipping parallel unnest, reassembly via
    // ordered string_agg; the md5 of the reassembled text pins byte
    // equality (separator, order, and winner choice all load-bearing)
    "q165_incremental_paradedup" -> (
      s"""WITH docs0 AS (SELECT doc_id, doc_id % 3 AS src,
        |    CASE WHEN doc_id % 7 = 0 THEN text
        |         ELSE text || chr(10) || chr(10) ||
        |           (CASE CAST(doc_id % 3 AS INT)
        |              WHEN 0 THEN '${q165Boilers(0)}'
        |              WHEN 1 THEN '${q165Boilers(1)}'
        |              ELSE '${q165Boilers(2)}' END)
        |    END AS txt
        |  FROM documents WHERE text IS NOT NULL),
        | arrs AS (SELECT doc_id, src,
        |     regexp_split_to_array(txt, '\\n\\s*\\n') AS arr FROM docs0),
        | paras AS (SELECT doc_id, src, unnest(arr) AS para,
        |     unnest(generate_series(1, len(arr))) AS idx FROM arrs),
        | fps AS (SELECT doc_id, src, para, idx,
        |     md5(${normSqlFor("para")}) AS fp
        |   FROM paras WHERE trim(para) <> ''),
        | keep AS (SELECT doc_id, src, para, idx FROM (
        |     SELECT doc_id, src, para, idx, row_number() OVER (
        |       PARTITION BY src, fp ORDER BY doc_id, idx) AS rn FROM fps)
        |   WHERE rn = 1),
        | outq AS (SELECT doc_id, src,
        |     string_agg(para, chr(10) || chr(10) ORDER BY idx) AS text
        |   FROM keep GROUP BY 1, 2)
        | SELECT doc_id, src, md5(text) AS fp FROM outq
        | ORDER BY doc_id""").stripMargin.replaceAll("\n", " "),
    "q107_lang_mix" ->
      s"""WITH raw AS (SELECT doc_id,
        |    CASE WHEN doc_id % 9 = 0 THEN text || ' der die das und ist nicht ein zu mit der die das und ist nicht ein zu mit der die'
        |    ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |   ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END AS ts FROM raw),
        | dl AS (SELECT doc_id, ts,
        |   CASE WHEN len(ts) = 0 OR best.score = 0 THEN 'und' ELSE best.lang END AS lang_pred
        |   FROM (SELECT doc_id, ts, ${duckLangBest("ts")} AS best FROM t)),
        | w AS (SELECT doc_id, unnest(generate_series(0, CAST(ceil(len(ts) / 20.0) AS INT) - 1)) AS wi, ts
        |       FROM dl WHERE len(ts) > 0),
        | ws AS (SELECT doc_id, list_slice(ts, wi * 20 + 1, wi * 20 + 20) AS wt FROM w),
        | wl AS (SELECT doc_id,
        |   CASE WHEN len(wt) = 0 OR best.score = 0 THEN 'und' ELSE best.lang END AS wl
        |   FROM (SELECT doc_id, wt, ${duckLangBest("wt")} AS best FROM ws)),
        | agg AS (SELECT wl.doc_id, count(*) AS n_windows,
        |   sum(CASE WHEN wl.wl <> dl.lang_pred AND wl.wl <> 'und' THEN 1 ELSE 0 END) AS n_foreign
        |  FROM wl JOIN dl ON wl.doc_id = dl.doc_id GROUP BY 1)
        | SELECT dl.doc_id, dl.lang_pred,
        |   CAST(coalesce(agg.n_windows, 0) AS BIGINT) AS n_windows,
        |   CAST(coalesce(agg.n_foreign, 0) AS BIGINT) AS n_foreign,
        |   CASE WHEN coalesce(agg.n_windows, 0) = 0 THEN 0.0
        |        ELSE round(CAST(agg.n_foreign AS DOUBLE) / agg.n_windows, 6) END AS mix_ratio
        | FROM dl LEFT JOIN agg ON dl.doc_id = agg.doc_id
        | ORDER BY dl.doc_id""".stripMargin.replaceAll("\n", " "),
    "q76_remove_dup_spans" ->
      """WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | g AS (SELECT doc_id, n_tok, u.pos AS pos, u.ngram AS ngram FROM (
        |  SELECT doc_id, len(w) AS n_tok,
        |    unnest(CASE WHEN len(w) <= 5 THEN [struct_pack(pos := 1, ngram := array_to_string(w, ' '))]
        |      ELSE list_transform(generate_series(1, len(w)-4),
        |        i -> struct_pack(pos := i, ngram := array_to_string(list_slice(w, i, i+4), ' '))) END) AS u
        |  FROM base)),
        | dup AS (SELECT ngram FROM g GROUP BY ngram HAVING count(*) > 1),
        | cov AS (SELECT doc_id, list(DISTINCT p) AS cps FROM (
        |  SELECT g.doc_id, unnest(generate_series(g.pos, least(g.pos + 4, g.n_tok))) AS p
        |  FROM g JOIN dup USING (ngram)) GROUP BY doc_id)
        | SELECT t.doc_id, CAST(len(t.kept) AS BIGINT) AS n_kept,
        |  coalesce(array_to_string(list_transform(t.kept, i -> t.w[i]), ' '), '') AS scrubbed
        | FROM (SELECT b.doc_id, b.w,
        |   list_filter(generate_series(1, len(b.w)),
        |     i -> cov.cps IS NULL OR NOT list_contains(cov.cps, i)) AS kept
        |  FROM base b LEFT JOIN cov USING (doc_id)) t
        | ORDER BY t.doc_id""".stripMargin.replaceAll("\n", " "),
    "q77_paragraph_neardup" ->
      """WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | paras AS (
        |  SELECT doc_id, i AS para_idx, array_to_string(w[(i*16+1):(i*16+16)], ' ') AS para
        |  FROM base, unnest(generate_series(0, (len(w)-1)//16)) AS t(i)),
        | sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(pw) <= 3 THEN [array_to_string(pw, ' ')]
        |    ELSE list_transform(generate_series(1, len(pw)-2), i -> array_to_string(list_slice(pw, i, i+2), ' ')) END) AS s,
        |   doc_id*1000000 + para_idx AS pkey
        |  FROM (SELECT doc_id, para_idx, regexp_split_to_array(trim(para), '\s+') AS pw
        |        FROM paras WHERE trim(para) <> '')),
        | ex AS (SELECT pkey, doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | pp AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS j
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.pkey < b.pkey AND a.doc_id <> b.doc_id
        |  GROUP BY a.pkey, b.pkey, a.doc_id, b.doc_id)
        | SELECT doc_a, doc_b, count(*) AS n_para_pairs, round(max(j), 4) AS max_jaccard
        | FROM pp WHERE j >= 0.5 GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b""".stripMargin.replaceAll("\n", " "),
    "q71_pii_redact" ->
      s"""SELECT doc_id,
        | CAST(len(regexp_extract_all(aug, '$emailPat')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(aug, '$ipPat')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(aug, '$phonePat')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(aug,
        |   '$emailPat', '<EMAIL>', 'g'), '$ipPat', '<IP>', 'g'),
        |   '$phonePat', '<PHONE>', 'g')) AS redacted_md5
        | FROM (SELECT doc_id, $piiAugSql AS aug
        |   FROM documents WHERE text IS NOT NULL) ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q75_pack_chunks" ->
      """WITH d AS (SELECT doc_id,
        |  CAST(CASE WHEN trim(text)='' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS BIGINT) AS n_tokens
        |  FROM documents WHERE text IS NOT NULL)
        | SELECT doc_id, n_tokens,
        |  CAST(st AS BIGINT) AS start_token,
        |  CAST(st + n_tokens AS BIGINT) AS end_token,
        |  CAST(st // 512 AS BIGINT) AS chunk_id,
        |  CAST(st % 512 AS BIGINT) AS offset_in_chunk
        | FROM (SELECT doc_id, n_tokens,
        |   coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st
        |  FROM d) ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q73_dup_spans" ->
      """WITH base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | g AS (SELECT doc_id, n_tok, u.pos AS pos, u.ngram AS ngram FROM (
        |  SELECT doc_id, len(w) AS n_tok,
        |    unnest(CASE WHEN len(w) <= 5 THEN [struct_pack(pos := 1, ngram := array_to_string(w, ' '))]
        |      ELSE list_transform(generate_series(1, len(w)-4),
        |        i -> struct_pack(pos := i, ngram := array_to_string(list_slice(w, i, i+4), ' '))) END) AS u
        |  FROM base)),
        | dup AS (SELECT ngram FROM g GROUP BY ngram HAVING count(*) > 1),
        | cov AS (SELECT doc_id, count(DISTINCT p) AS covered FROM (
        |  SELECT g.doc_id, unnest(generate_series(g.pos, least(g.pos + 4, g.n_tok))) AS p
        |  FROM g JOIN dup USING (ngram)) GROUP BY doc_id)
        | SELECT t.doc_id, CAST(coalesce(cov.covered, 0) AS BIGINT) AS covered_tokens,
        |  CAST(t.n_tok AS BIGINT) AS n_tokens,
        |  round(coalesce(cov.covered, 0)::DOUBLE / t.n_tok, 6) AS dup_coverage
        | FROM (SELECT doc_id, len(w) AS n_tok FROM base) t
        | LEFT JOIN cov USING (doc_id) ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q81_novelty" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ref AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 10 = 0),
        | cand AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 10 <> 0),
        | tot AS (SELECT doc_id, count(*) AS n_grams FROM cand GROUP BY doc_id),
        | kn AS (SELECT doc_id, count(*) AS n_known FROM cand
        |   WHERE g IN (SELECT g FROM ref) GROUP BY doc_id)
        | SELECT tot.doc_id, tot.n_grams, coalesce(kn.n_known, 0) AS n_known,
        |  round(1.0 - coalesce(kn.n_known, 0)::DOUBLE / tot.n_grams, 6) AS novelty
        | FROM tot LEFT JOIN kn USING (doc_id) ORDER BY tot.doc_id""".stripMargin.replaceAll("\n", " "),
    "q80_source_overlap" ->
      """WITH sh AS (
        |  SELECT doc_id, source, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, source, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | pp AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    any_value(a.source) AS sa, any_value(b.source) AS sb,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS j
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        | SELECT least(sa, sb) AS src_a, greatest(sa, sb) AS src_b,
        |  count(*) AS n_pairs, round(avg(j), 4) AS mean_jaccard
        | FROM pp WHERE j >= 0.5 GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin.replaceAll("\n", " "),
    "q79_pack_assemble" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN trim(text)='' THEN [] ELSE regexp_split_to_array(trim(text),'\s+') END AS w
        |  FROM documents WHERE text IS NOT NULL),
        | ord AS (SELECT doc_id, w,
        |  coalesce(sum(len(w)) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS st FROM d),
        | stream AS (SELECT doc_id, st + i - 1 AS gpos, w[i] AS tok
        |  FROM ord, unnest(generate_series(1, len(w))) AS t(i))
        | SELECT CAST(gpos // 512 AS BIGINT) AS chunk_id,
        |  count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs,
        |  md5(string_agg(tok, ' ' ORDER BY gpos)) AS chunk_md5
        | FROM stream GROUP BY 1 ORDER BY 1""".stripMargin.replaceAll("\n", " "),
    "q78_bigram_logprob" ->
      """WITH tokd AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | alltok AS (SELECT unnest(w) AS token FROM tokd),
        | uni AS (SELECT token, count(*)::DOUBLE / (SELECT count(*) FROM alltok) AS p_uni
        |  FROM alltok GROUP BY token),
        | pairs AS (SELECT doc_id, u.w1 AS w1, u.w2 AS w2 FROM (
        |  SELECT doc_id, unnest(list_transform(generate_series(2, len(w)),
        |    i -> struct_pack(w1 := w[i-1], w2 := w[i]))) AS u
        |  FROM tokd WHERE len(w) >= 2)),
        | c2 AS (SELECT w1, w2, count(*) AS c FROM pairs GROUP BY w1, w2),
        | cs AS (SELECT w1, sum(c) AS s FROM c2 GROUP BY w1),
        | pc AS (SELECT c2.w1, c2.w2, c2.c::DOUBLE / cs.s AS p_cond FROM c2 JOIN cs USING (w1)),
        | sc AS (SELECT doc_id,
        |   avg(log10(coalesce(pc.p_cond, 0.0) * 0.75 + coalesce(uni.p_uni, 1e-12) * 0.25)) AS mean_logp,
        |   count(*) AS n
        |  FROM pairs LEFT JOIN pc USING (w1, w2) LEFT JOIN uni ON uni.token = pairs.w2
        |  GROUP BY doc_id)
        | SELECT d.doc_id, round(coalesce(sc.mean_logp, -12.0), 6) AS mean_logp,
        |  CAST(coalesce(sc.n, 0) AS BIGINT) AS n_bigrams
        | FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        | LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " "),
    "q72_unigram_logprob" ->
      """WITH tok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | uni AS (SELECT token, log10(count(*)::DOUBLE / (SELECT count(*) FROM tok)) AS logp
        |  FROM tok GROUP BY token),
        | sc AS (SELECT doc_id, avg(coalesce(logp, -12.0)) AS mean_logp, count(*) AS n
        |  FROM tok LEFT JOIN uni USING (token) GROUP BY doc_id)
        | SELECT d.doc_id, round(coalesce(sc.mean_logp, -12.0), 6) AS mean_logp,
        |  CAST(coalesce(sc.n, 0) AS BIGINT) AS n_tokens
        | FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
        | LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " "),
    "q36_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh)
        | SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE jaccard >= 0.5 ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q50_group_sample" ->
      """SELECT lang, doc_id FROM (
        | SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents)
        | WHERE rn <= 5 ORDER BY lang, doc_id""".stripMargin.replaceAll("\n", " "),
    "q51_ngram_generator" ->
      """SELECT doc_id, count(*) AS n_ngrams, min(ngram) AS first_ngram FROM (
        | SELECT doc_id, unnest(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |   ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS ngram
        | FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |   FROM documents WHERE text IS NOT NULL AND trim(text) <> ''))
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q30_md5" ->
      """SELECT doc_id, md5(text) AS h FROM documents WHERE text IS NOT NULL
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q58_heavy_hitters" ->
      """SELECT tok AS token, CAST(count(*) AS BIGINT) AS n FROM (
        | SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        | FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        | GROUP BY tok ORDER BY n DESC, token ASC LIMIT 10""".stripMargin.replaceAll("\n", " "),
    "q31_dedup_exact" ->
      s"""SELECT min(doc_id) AS doc_id FROM documents WHERE text IS NOT NULL
        | GROUP BY CASE WHEN $normSql = '' THEN '__empty__:' || CAST(doc_id AS VARCHAR)
        |   ELSE md5($normSql) END ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q32_token_count" ->
      """SELECT doc_id,
        | CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens,
        | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]', 0)) AS BIGINT) AS n_bpeish,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(strlen(text) AS BIGINT) AS n_bytes
        | FROM documents WHERE text IS NOT NULL ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q33_quality" ->
      """SELECT doc_id,
        | round(CASE WHEN length(text)=0 THEN 0.0 ELSE
        |   CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)/length(text) END, 6) AS punct_ratio,
        | round(CASE WHEN n_tok=0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE)/n_tok END, 6) AS stopword_ratio,
        | round(CASE WHEN n_tok=0 THEN 0.0 ELSE CAST(sum_len AS DOUBLE)/n_tok END, 6) AS mean_token_len
        | FROM (SELECT doc_id, text,
        |   CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tok,
        |   CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |     t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be'], t))) END AS n_stop,
        |   CASE WHEN trim(text)='' THEN 0 ELSE list_aggregate(list_transform(regexp_split_to_array(trim(text),'\s+'), t -> length(t)), 'sum') END AS sum_len
        |  FROM documents WHERE text IS NOT NULL) ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q34_fingerprint" ->
      s"""SELECT md5($normSql) AS fp, count(*) AS cluster_size, min(doc_id) AS min_doc_id
        | FROM documents WHERE text IS NOT NULL GROUP BY fp
        | HAVING count(*) > 1 ORDER BY min_doc_id""".stripMargin.replaceAll("\n", " "),
    "q35_lang_id" ->
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text)='' THEN []
        |   ELSE regexp_split_to_array(trim(lower(text)), '\s+') END AS ts
        |  FROM documents WHERE text IS NOT NULL),
        | s AS (SELECT doc_id, len(ts) AS n_tok, list_sort([
        |  struct_pack(score := len(list_filter(ts, x -> list_contains(['the','and','of','to','is','in','that','it','with'], x))), lang := 'en'),
        |  struct_pack(score := len(list_filter(ts, x -> list_contains(['der','die','das','und','ist','nicht','ein','zu','mit'], x))), lang := 'de'),
        |  struct_pack(score := len(list_filter(ts, x -> list_contains(['le','la','les','et','est','une','que','pour','dans'], x))), lang := 'fr'),
        |  struct_pack(score := len(list_filter(ts, x -> list_contains(['el','los','las','es','una','que','por','para','como'], x))), lang := 'es'),
        |  struct_pack(score := len(list_filter(ts, x -> list_contains(['的','是','了','在','我','有','和','不','人'], x))), lang := 'zh')
        |  ])[-1] AS best FROM t)
        | SELECT doc_id, CASE WHEN n_tok = 0 OR best.score = 0 THEN 'und' ELSE best.lang END AS lang_pred
        | FROM s ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q67_gopher_rules" ->
      """WITH base AS (SELECT doc_id, text,
        |   CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        | m AS (SELECT doc_id, n_tok,
        |   CASE WHEN n_tok=0 THEN 0.0 ELSE list_aggregate(list_transform(regexp_split_to_array(trim(text),'\s+'), t -> length(t)), 'sum')::DOUBLE / n_tok END AS mean_len,
        |   CASE WHEN n_tok=0 THEN 0.0 ELSE len(list_filter(regexp_split_to_array(trim(lower(text)),'\s+'),
        |     t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be'], t)))::DOUBLE / n_tok END AS stop_ratio
        |  FROM base),
        | rep AS (SELECT doc_id, max(c)::DOUBLE/sum(c) AS top_fraction FROM (
        |   SELECT doc_id, bg, count(*) AS c FROM (
        |    SELECT doc_id, unnest(CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
        |      ELSE list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1]) END) AS bg
        |    FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |          WHERE text IS NOT NULL AND trim(text) <> ''))
        |   GROUP BY doc_id, bg) GROUP BY doc_id)
        | SELECT m.doc_id,
        |  (CASE WHEN n_tok < 5 THEN 1 ELSE 0 END
        |   + CASE WHEN mean_len < 2.0 OR mean_len > 10.0 THEN 1 ELSE 0 END
        |   + CASE WHEN stop_ratio < 0.01 THEN 1 ELSE 0 END
        |   + CASE WHEN coalesce(top_fraction, 0.0) > 0.1 THEN 1 ELSE 0 END)::BIGINT AS n_fail,
        |  (CASE WHEN n_tok < 5 THEN 1 ELSE 0 END
        |   + CASE WHEN mean_len < 2.0 OR mean_len > 10.0 THEN 1 ELSE 0 END
        |   + CASE WHEN stop_ratio < 0.01 THEN 1 ELSE 0 END
        |   + CASE WHEN coalesce(top_fraction, 0.0) > 0.1 THEN 1 ELSE 0 END) = 0 AS pass
        | FROM m LEFT JOIN rep ON rep.doc_id = m.doc_id
        | ORDER BY m.doc_id""".stripMargin.replaceAll("\n", " "),
    "q63_hash_sample" ->
      """SELECT lang, count(*) AS n_sampled, min(doc_id) AS min_doc_id
        | FROM documents
        | WHERE md5(CAST(doc_id AS VARCHAR)) < '40000000000000000000000000000000'
        | GROUP BY lang ORDER BY lang""".stripMargin.replaceAll("\n", " "),
    "q69_stratified_sample" ->
      """SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc_id
        | FROM documents
        | WHERE md5(CAST(doc_id AS VARCHAR)) < CASE lang
        |   WHEN 'en' THEN 'ffffffffffffffffffffffffffffffff'
        |   WHEN 'de' THEN '66666666666666666666666666666666'
        |   ELSE '19999999999999999999999999999999' END
        | GROUP BY lang ORDER BY lang""".stripMargin.replaceAll("\n", " "),
    "q85_cross_corpus_dedup" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh)
        | SELECT id_left, id_right, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_left, b.doc_id AS id_right,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE jaccard >= 0.5 ORDER BY id_left, id_right""".stripMargin.replaceAll("\n", " "),
    // identical semantics to q85 (the prefix-filtered route must produce
    // byte-equal results to the inverted-index route)
    "q86_cross_corpus_prefix" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh)
        | SELECT id_left, id_right, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_left, b.doc_id AS id_right,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  WHERE a.doc_id % 7 = 0 AND b.doc_id % 7 <> 0
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE jaccard >= 0.5 ORDER BY id_left, id_right""".stripMargin.replaceAll("\n", " "),
    // Both unigram models, the per-doc mean log-ratio, exact dyadic
    // Gumbel keys from the same md5 bytes, and the same top-k.
    "q89_dsir_select" ->
      """WITH ctok AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 97 <> 0),
        | ttok AS (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '' AND doc_id % 97 = 0),
        | uni_t AS (SELECT token, log10(count(*)::DOUBLE / (SELECT count(*) FROM ttok)) AS lt
        |  FROM ttok GROUP BY token),
        | uni_r AS (SELECT token, log10(count(*)::DOUBLE / (SELECT count(*) FROM ctok)) AS lr
        |  FROM ctok GROUP BY token),
        | w AS (SELECT doc_id, avg(coalesce(lt, -12.0) - coalesce(lr, -12.0)) AS weight,
        |   count(*) AS n FROM ctok LEFT JOIN uni_t USING (token) LEFT JOIN uni_r USING (token)
        |  GROUP BY doc_id),
        | wd AS (SELECT d.doc_id, coalesce(w.weight, 0.0) AS weight,
        |   CAST(coalesce(w.n, 0) AS BIGINT) AS n_tokens
        |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id % 97 <> 0) d
        |  LEFT JOIN w USING (doc_id)),
        | keyed AS (SELECT doc_id, weight, n_tokens,
        |   weight / 1.0 - ln(-ln((CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 8) AS BIGINT) + 0.5) / 4294967296.0)) AS gk
        |  FROM wd)
        | SELECT doc_id, round(weight, 6) AS weight, n_tokens FROM (
        |  SELECT doc_id, weight, n_tokens, row_number() OVER (ORDER BY gk DESC, doc_id) AS rn
        |  FROM keyed)
        | WHERE rn <= 200 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // Verdict recomposition: md5-of-normalized-text equi-join for
    // 'exact' (same normSql mirror as q31/q34), inverted shingle index
    // for the cross-side best Jaccard (same CTE family as q85/q86),
    // CASE-merged per candidate doc.
    "q88_release_diff" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
        | nrm AS (SELECT doc_id, CASE WHEN trim(text)='' THEN NULL
        |   ELSE md5($normSql) END AS fp FROM base),
        | ex AS (SELECT DISTINCT c.doc_id FROM nrm c
        |   JOIN (SELECT DISTINCT fp FROM nrm WHERE doc_id % 7 = 0 AND fp IS NOT NULL) r
        |   ON c.fp = r.fp WHERE c.doc_id % 7 <> 0),
        | sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM base
        |        WHERE trim(text) <> '')),
        | exsh AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | nb AS (SELECT cid AS doc_id, max(jaccard) AS bj FROM (
        |   SELECT a.doc_id AS cid, b.doc_id AS rid,
        |     CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |   FROM exsh a JOIN exsh b ON a.g = b.g
        |   WHERE a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0
        |   GROUP BY a.doc_id, b.doc_id)
        |  WHERE jaccard >= 0.5 GROUP BY cid)
        | SELECT c.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
        |       WHEN nb.bj IS NOT NULL THEN 'near' ELSE 'novel' END AS verdict,
        |  round(CASE WHEN ex.doc_id IS NOT NULL THEN 1.0 ELSE nb.bj END, 4) AS best_jaccard
        | FROM (SELECT doc_id FROM base WHERE doc_id % 7 <> 0) c
        | LEFT JOIN ex ON ex.doc_id = c.doc_id LEFT JOIN nb ON nb.doc_id = c.doc_id
        | ORDER BY c.doc_id""".stripMargin.replaceAll("\n", " "),
    "q118_release_diff_edits" ->
      s"""WITH t AS (SELECT doc_id, substring(trim(text), 1, 15) AS title
        |   FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | rel AS (SELECT doc_id, title FROM t WHERE doc_id % 7 = 0),
        | cand AS (SELECT c.doc_id,
        |   CASE WHEN c.doc_id % 11 = 1 AND r.title IS NOT NULL
        |        THEN 'q' || substring(r.title, 2) ELSE c.title END AS title
        |   FROM t c LEFT JOIN t r ON r.doc_id = c.doc_id - (c.doc_id % 7)
        |   WHERE c.doc_id % 7 <> 0),
        | ex AS (SELECT DISTINCT c.doc_id FROM
        |   (SELECT doc_id, md5(${normSqlFor("title")}) AS fp FROM cand WHERE trim(title) <> '') c
        |   JOIN (SELECT DISTINCT md5(${normSqlFor("title")}) AS fp FROM rel WHERE trim(title) <> '') r
        |   ON c.fp = r.fp),
        | shc AS (SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(title), '\\s+') AS w FROM cand WHERE trim(title) <> '')),
        | shr AS (SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(title), '\\s+') AS w FROM rel WHERE trim(title) <> '')),
        | exc AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM shc),
        | exr AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM shr),
        | nb AS (SELECT cid AS doc_id, max(jaccard) AS bj FROM (
        |   SELECT a.doc_id AS cid, b.doc_id AS rid,
        |     CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |   FROM exc a JOIN exr b ON a.g = b.g
        |   GROUP BY a.doc_id, b.doc_id)
        |  WHERE jaccard >= 0.5 GROUP BY cid),
        | ed AS (SELECT c.doc_id, CAST(min(levenshtein(c.title, r.title)) AS BIGINT) AS bed
        |   FROM cand c JOIN rel r ON abs(length(c.title) - length(r.title)) <= 1
        |   GROUP BY c.doc_id HAVING min(levenshtein(c.title, r.title)) <= 1)
        | SELECT c.doc_id,
        |  CASE WHEN ex.doc_id IS NOT NULL THEN 'exact'
        |       WHEN nb.bj IS NOT NULL THEN 'near'
        |       WHEN ed.bed IS NOT NULL THEN 'near'
        |       ELSE 'novel' END AS verdict,
        |  round(CASE WHEN ex.doc_id IS NOT NULL THEN 1.0 ELSE nb.bj END, 4) AS best_jaccard,
        |  ed.bed AS best_edit_dist
        | FROM cand c LEFT JOIN ex ON ex.doc_id = c.doc_id
        | LEFT JOIN nb ON nb.doc_id = c.doc_id
        | LEFT JOIN ed ON ed.doc_id = c.doc_id
        | ORDER BY c.doc_id""".stripMargin.replaceAll("\n", " "),
    "q84_topk_by_score" ->
      """SELECT lang, doc_id, n_tokens FROM (
        | SELECT lang, doc_id, n_tokens,
        |   row_number() OVER (PARTITION BY lang
        |     ORDER BY n_tokens DESC, doc_id) AS rn
        | FROM (SELECT lang, doc_id,
        |   CASE WHEN trim(text)='' THEN 0
        |        ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens
        |   FROM documents WHERE text IS NOT NULL))
        | WHERE rn <= 3 ORDER BY lang, doc_id""".stripMargin.replaceAll("\n", " "),
    "q83_token_budget_sample" ->
      """SELECT lang, doc_id, n_tokens FROM (
        | SELECT lang, doc_id, n_tokens,
        |   sum(n_tokens) OVER (PARTITION BY lang
        |     ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        | FROM (SELECT lang, doc_id,
        |   CASE WHEN trim(text)='' THEN 0
        |        ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens
        |   FROM documents WHERE text IS NOT NULL))
        | WHERE cum <= CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000
        |   ELSE 1500 END
        | ORDER BY lang, doc_id""".stripMargin.replaceAll("\n", " "),
    "q90_epoch_mixture" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens
        | FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT lang, doc_id, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  sum(n_tokens) OVER (PARTITION BY lang) AS tot,
        |  CASE lang WHEN 'en' THEN 6000 WHEN 'de' THEN 9000 ELSE 20000 END AS b
        | FROM d),
        | e AS (SELECT lang, doc_id, n_tokens,
        |  CASE WHEN cum > b THEN 0 WHEN tot = 0 THEN 4
        |       ELSE least(4, (b - cum) // tot + 1) END AS ne FROM c)
        | SELECT lang, doc_id, n_tokens,
        |   CAST(unnest(generate_series(1, CAST(ne AS BIGINT))) AS INTEGER) AS epoch
        | FROM e WHERE ne >= 1 ORDER BY lang, doc_id, epoch""".stripMargin.replaceAll("\n", " "),
    "q91_quality_quantile" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tok,
        |  CASE WHEN trim(text)='' THEN 0 ELSE list_aggregate(list_transform(regexp_split_to_array(trim(text),'\s+'), t -> length(t)), 'sum') END AS sum_len
        | FROM documents WHERE text IS NOT NULL),
        | sc AS (SELECT lang, doc_id,
        |  CASE WHEN n_tok=0 THEN 0.0 ELSE CAST(sum_len AS DOUBLE)/n_tok END AS score FROM d)
        | SELECT lang, doc_id, round(score, 6) AS score FROM sc
        | QUALIFY row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id)
        |   <= ceil(0.25 * count(*) OVER (PARTITION BY lang))
        | ORDER BY lang, doc_id""".stripMargin.replaceAll("\n", " "),
    "q92_split_assign" ->
      s"""WITH k AS (SELECT doc_id,
        |  CASE WHEN $normSql = '' THEN '__empty__:' || CAST(doc_id AS VARCHAR)
        |       ELSE md5($normSql) END AS key
        | FROM documents WHERE text IS NOT NULL)
        | SELECT doc_id,
        |  CASE WHEN md5(key) < '${graft.operators.Sampling.hexThreshold(0.75)}' THEN 'train'
        |       WHEN md5(key) < '${graft.operators.Sampling.hexThreshold(0.875)}' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM k ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q100_pmi_collocations" ->
      """WITH t AS (SELECT CASE WHEN trim(text)='' THEN []
        |    ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
        |  FROM documents WHERE text IS NOT NULL),
        | uni AS (SELECT u AS tok, CAST(count(*) AS BIGINT) AS c1
        |  FROM (SELECT unnest(ts) AS u FROM t) GROUP BY 1),
        | n1t AS (SELECT CAST(sum(c1) AS DOUBLE) AS n1 FROM uni),
        | bi AS (SELECT p.a AS a, p.b AS b, CAST(count(*) AS BIGINT) AS n_pair FROM (
        |   SELECT unnest(list_transform(generate_series(1, len(ts)-1),
        |     i -> struct_pack(a := ts[i], b := ts[i+1]))) AS p
        |   FROM t WHERE len(ts) >= 2) GROUP BY 1, 2),
        | n2t AS (SELECT CAST(sum(n_pair) AS DOUBLE) AS n2 FROM bi),
        | j AS (SELECT bi.a AS tok_a, bi.b AS tok_b, bi.n_pair,
        |   log10( (CAST(bi.n_pair AS DOUBLE) / (SELECT n2 FROM n2t)) /
        |          ((CAST(ua.c1 AS DOUBLE) / (SELECT n1 FROM n1t)) *
        |           (CAST(ub.c1 AS DOUBLE) / (SELECT n1 FROM n1t))) ) AS pmi
        |  FROM bi JOIN uni ua ON bi.a = ua.tok JOIN uni ub ON bi.b = ub.tok
        |  WHERE bi.n_pair >= 5)
        | SELECT tok_a, tok_b, n_pair, round(pmi, 6) AS pmi FROM j
        | ORDER BY pmi DESC, tok_a, tok_b LIMIT 30""".stripMargin.replaceAll("\n", " "),
    "q99_boilerplate_lines" ->
      """WITH d AS (SELECT doc_id,
        |   CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || '== SITE FOOTER ==' || chr(10) || 'visit example dot com'
        |        ELSE text END AS t
        |  FROM documents WHERE text IS NOT NULL),
        | l AS (SELECT doc_id, u.pos AS pos, u.line AS line FROM (
        |   SELECT doc_id, unnest(list_transform(generate_series(1, len(ls)),
        |     i -> struct_pack(pos := i, line := ls[i]))) AS u
        |   FROM (SELECT doc_id, string_split(t, chr(10)) AS ls FROM d))),
        | dfq AS (SELECT trim(line) AS k FROM l WHERE trim(line) <> ''
        |   GROUP BY 1 HAVING count(DISTINCT doc_id) >= 10),
        | mk AS (SELECT l.doc_id, l.pos, l.line, (dfq.k IS NOT NULL) AS dropped
        |   FROM l LEFT JOIN dfq ON trim(l.line) = dfq.k)
        | SELECT doc_id,
        |   CAST(sum(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |   coalesce(string_agg(CASE WHEN NOT dropped THEN line END, chr(10) ORDER BY pos), '') AS scrubbed
        | FROM mk GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q98_split_leakage" ->
      s"""WITH k AS (SELECT doc_id, text,
        |   CASE WHEN $normSql = '' THEN '__empty__:' || CAST(doc_id AS VARCHAR)
        |        ELSE md5($normSql) END AS fp
        |  FROM documents WHERE text IS NOT NULL),
        | sp AS (SELECT doc_id, text, fp,
        |   CASE WHEN md5(fp) < '${graft.operators.Sampling.hexThreshold(0.75)}' THEN 'train'
        |        WHEN md5(fp) < '${graft.operators.Sampling.hexThreshold(0.875)}' THEN 'val'
        |        ELSE 'test' END AS split FROM k),
        | ev AS (SELECT * FROM sp WHERE split <> 'train'),
        | exo AS (SELECT e.split, CAST(count(*) AS BIGINT) AS n_exact
        |   FROM ev e JOIN (SELECT fp FROM sp WHERE split = 'train') t ON e.fp = t.fp
        |   GROUP BY e.split),
        | sh AS (SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM sp
        |        WHERE trim(text) <> '')),
        | ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | pairs AS (SELECT a.doc_id AS id_left, b.doc_id AS id_right,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS j
        |   FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |   JOIN (SELECT doc_id FROM sp WHERE split = 'train') ta ON a.doc_id = ta.doc_id
        |   JOIN (SELECT doc_id FROM ev) tb ON b.doc_id = tb.doc_id
        |   GROUP BY a.doc_id, b.doc_id),
        | np AS (SELECT s2.split, CAST(count(*) AS BIGINT) AS n_near
        |   FROM pairs p JOIN ev s2 ON p.id_right = s2.doc_id
        |   WHERE p.j >= 0.5 GROUP BY s2.split)
        | SELECT d.split, coalesce(exo.n_exact, 0) AS n_exact_overlap,
        |   coalesce(np.n_near, 0) AS n_near_pairs
        | FROM (SELECT DISTINCT split FROM ev) d
        | LEFT JOIN exo ON d.split = exo.split
        | LEFT JOIN np ON d.split = np.split
        | ORDER BY d.split""".stripMargin.replaceAll("\n", " "),
    "q112_source_report" ->
      s"""WITH d AS (SELECT source, doc_id, text,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\\s+')) END AS n_tok,
        |  CASE WHEN trim(text)='' THEN 1 ELSE 0 END AS blank,
        |  CASE WHEN $normSql = '' THEN '__empty__:' || CAST(doc_id AS VARCHAR)
        |       ELSE md5($normSql) END AS fp
        | FROM documents WHERE text IS NOT NULL),
        | g AS (SELECT source, fp, count(*) AS c, sum(n_tok) AS t, sum(blank) AS b
        |       FROM d GROUP BY source, fp),
        | ds AS (SELECT source, sum(c) AS n_docs, sum(t) AS n_tokens, sum(b) AS n_blank,
        |         sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS n_dup_docs
        |        FROM g GROUP BY source),
        | tokz AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tk
        |          FROM d WHERE trim(text) <> ''),
        | cz AS (SELECT source, tk, count(*) AS n FROM tokz GROUP BY 1, 2),
        | z AS (SELECT source,
        |        round(CAST(count(*) AS DOUBLE) / sum(n), 6) AS tt_ratio,
        |        round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS hapax_frac,
        |        round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
        |       FROM cz GROUP BY source),
        | ce AS (SELECT doc_id, tk, count(*) AS c FROM
        |         (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tk
        |          FROM d WHERE trim(text) <> '') GROUP BY 1, 2),
        | pe AS (SELECT doc_id, sum(c) AS n_tokens, sum(CAST(c AS DOUBLE) * log2(c)) AS clogc
        |        FROM ce GROUP BY 1),
        | ent AS (SELECT d.source, round(avg(round(log2(pe.n_tokens) - pe.clogc / pe.n_tokens, 6)), 6) AS avg_entropy
        |         FROM pe JOIN d ON pe.doc_id = d.doc_id GROUP BY 1)
        | SELECT ds.source, CAST(ds.n_docs AS BIGINT) AS n_docs,
        |   CAST(ds.n_tokens AS BIGINT) AS n_tokens,
        |   CAST(ds.n_blank AS BIGINT) AS n_blank,
        |   CAST(ds.n_dup_docs AS BIGINT) AS n_dup_docs,
        |   z.tt_ratio, z.hapax_frac, z.top_share, ent.avg_entropy,
        |   round(CAST(ds.n_tokens AS DOUBLE) / ds.n_docs, 6) AS avg_doc_tokens
        | FROM ds JOIN z USING (source) JOIN ent USING (source)
        | ORDER BY ds.source""".stripMargin.replaceAll("\n", " "),
    "q111_token_entropy" ->
      """WITH t AS (SELECT doc_id, CASE WHEN trim(text) = '' THEN []
        |   ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
        |  FROM documents WHERE text IS NOT NULL),
        | c AS (SELECT doc_id, t, count(*) AS c
        |       FROM (SELECT doc_id, unnest(ts) AS t FROM t) GROUP BY 1, 2),
        | p AS (SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types,
        |         sum(CAST(c AS DOUBLE) * log2(c)) AS clogc
        |       FROM c GROUP BY 1)
        | SELECT t.doc_id,
        |   CAST(coalesce(p.n_tokens, 0) AS BIGINT) AS n_tokens,
        |   CAST(coalesce(p.n_types, 0) AS BIGINT) AS n_types,
        |   CASE WHEN coalesce(p.n_tokens, 0) = 0 THEN 0.0
        |        ELSE round(log2(p.n_tokens) - p.clogc / p.n_tokens, 6) END AS entropy
        | FROM t LEFT JOIN p USING (doc_id) ORDER BY t.doc_id""".stripMargin.replaceAll("\n", " "),
    "q110_c4_filter" ->
      """WITH raw AS (SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN text || ' lorem ipsum {'
        |         WHEN doc_id % 11 = 1 THEN text || chr(10) || 'short line' || chr(10) || 'This line ends properly with words.'
        |         ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | base AS (SELECT doc_id, text, regexp_split_to_array(text, chr(10)) AS lines FROM raw),
        | k AS (SELECT doc_id, list_filter(lines, l ->
        |         regexp_matches(trim(l), '[.!?]["'')\]]?$')
        |         AND len(regexp_split_to_array(trim(l), '\s+')) >= 3) AS kept
        |       FROM base),
        | sel AS (SELECT b.doc_id, len(b.lines) AS nl, len(k.kept) AS nk,
        |          len(regexp_split_to_array(b.text, '[.!?]')) - 1 AS ns,
        |          contains(lower(b.text), 'lorem ipsum') AS hl,
        |          (contains(b.text, '{') OR contains(b.text, '}')) AS hb,
        |          array_to_string(k.kept, chr(10)) AS cl
        |        FROM base b JOIN k USING (doc_id))
        | SELECT doc_id, CAST(nl AS BIGINT) AS n_lines, CAST(nk AS BIGINT) AS n_kept,
        |   CAST(ns AS BIGINT) AS n_sentences, hl AS has_lorem, hb AS has_brace,
        |   (ns >= 5 AND NOT hl AND NOT hb) AS pass,
        |   CASE WHEN ns >= 5 AND NOT hl AND NOT hb THEN cl END AS cleaned
        | FROM sel ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q108_bench_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), b AS (SELECT doc_id AS bench_id, len(s) AS n_grams, unnest(s) AS g
        |          FROM sh WHERE doc_id % 97 = 0),
        | c AS (SELECT doc_id AS cid, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0),
        | ph AS (SELECT b.bench_id, c.cid, count(*) AS hits
        |        FROM b JOIN c USING (g) GROUP BY 1, 2),
        | pb AS (SELECT bench_id, count(*) AS n_docs, max(hits) AS max_hits
        |        FROM ph GROUP BY 1),
        | sz AS (SELECT bench_id, any_value(n_grams) AS n_grams FROM b GROUP BY 1)
        | SELECT sz.bench_id, CAST(sz.n_grams AS BIGINT) AS n_grams,
        |   CAST(coalesce(pb.n_docs, 0) AS BIGINT) AS n_docs,
        |   CAST(coalesce(pb.max_hits, 0) AS BIGINT) AS max_hits,
        |   round(CAST(coalesce(pb.max_hits, 0) AS DOUBLE) / sz.n_grams, 6) AS max_frac
        | FROM sz LEFT JOIN pb USING (bench_id) ORDER BY sz.bench_id""".stripMargin.replaceAll("\n", " "),
    "q109_cc_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | pp AS (SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |  WHERE jaccard >= 0.6),
        | e AS (SELECT id_a AS src, id_b AS dst FROM pp
        |       UNION ALL SELECT id_b, id_a FROM pp),
        | r(id, reach) AS (
        |   SELECT DISTINCT src, src FROM e
        |   UNION
        |   SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src)
        | SELECT id, min(reach) AS label FROM r GROUP BY id ORDER BY id""".stripMargin.replaceAll("\n", " "),
    "q149_shard_manifest" -> {
      val shardCase = (1 until 8).map(i =>
        s"WHEN md5(CAST(doc_id AS VARCHAR)) < '${graft.operators.Sampling.hexThreshold(i / 8.0)}' THEN ${i - 1}")
        .mkString("CASE ", " ", " ELSE 7 END")
      s"""WITH t AS (SELECT doc_id,
        |   CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\\s+')) END AS n_tok
        |  FROM documents WHERE text IS NOT NULL),
        | s AS (SELECT doc_id, n_tok, $shardCase AS shard,
        |   CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT) AS h FROM t)
        | SELECT shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |   CAST(CAST(sum(h) AS DECIMAL(38,0)) AS VARCHAR) AS ids_fp_sum, bit_xor(h) AS ids_fp_xor
        | FROM s GROUP BY shard ORDER BY shard""".stripMargin.replaceAll("\n", " ")
    },
    "q148_neardup_safe_split" ->
      s"""WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | pp AS (SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |  WHERE jaccard >= 0.6),
        | e AS (SELECT id_a AS src, id_b AS dst FROM pp
        |       UNION ALL SELECT id_b, id_a FROM pp),
        | r(id, reach) AS (
        |   SELECT DISTINCT src, src FROM e
        |   UNION
        |   SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
        | lab AS (SELECT id, min(reach) AS label FROM r GROUP BY id),
        | k AS (SELECT sh.doc_id,
        |   CAST(coalesce(lab.label, sh.doc_id) AS VARCHAR) AS key
        |  FROM sh LEFT JOIN lab ON sh.doc_id = lab.id)
        | SELECT doc_id,
        |  CASE WHEN md5(key) < '${graft.operators.Sampling.hexThreshold(0.8)}' THEN 'train'
        |       WHEN md5(key) < '${graft.operators.Sampling.hexThreshold(0.9)}' THEN 'val'
        |       ELSE 'test' END AS split
        | FROM k ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q134_cluster_survivors" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s,
        |    len(w) AS n_tokens
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh),
        | pp AS (SELECT id_a, id_b FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |  WHERE jaccard >= 0.6),
        | e AS (SELECT id_a AS src, id_b AS dst FROM pp
        |       UNION ALL SELECT id_b, id_a FROM pp),
        | r(id, reach) AS (
        |   SELECT DISTINCT src, src FROM e
        |   UNION
        |   SELECT r.id, e.dst FROM r JOIN e ON r.reach = e.src),
        | lab AS (SELECT id, min(reach) AS label FROM r GROUP BY id),
        | ld AS (SELECT sh.doc_id, coalesce(lab.label, sh.doc_id) AS cluster_label, sh.n_tokens
        |        FROM sh LEFT JOIN lab ON sh.doc_id = lab.id),
        | rk AS (SELECT doc_id, cluster_label, n_tokens, row_number() OVER
        |   (PARTITION BY cluster_label ORDER BY n_tokens DESC, doc_id ASC) AS rn FROM ld)
        | SELECT doc_id, cluster_label, CAST(n_tokens AS BIGINT) AS n_tokens
        | FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q105_zipf_stats" ->
      """WITH tok AS (
        |  SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''),
        | c AS (SELECT source, t, count(*) AS n FROM tok GROUP BY 1, 2)
        | SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |   CAST(count(*) AS BIGINT) AS n_types,
        |   round(CAST(count(*) AS DOUBLE) / sum(n), 6) AS tt_ratio,
        |   round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS hapax_frac,
        |   round(CAST(max(n) AS DOUBLE) / sum(n), 6) AS top_share
        | FROM c GROUP BY source ORDER BY source""".stripMargin.replaceAll("\n", " "),
    "q104_edit_join" ->
      """WITH s0 AS (
        |  SELECT min(doc_id) AS id, substring(trim(text), 1, 25) AS s
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
        |  GROUP BY 2),
        | s AS (SELECT id, s FROM s0
        |  UNION ALL
        |  SELECT -id - 1, 'q' || substring(s, 2) FROM s0 WHERE id % 6 = 0)
        | SELECT a.id AS id_a, b.id AS id_b,
        |   CAST(levenshtein(a.s, b.s) AS BIGINT) AS edit_dist
        | FROM s a JOIN s b
        |   ON a.id < b.id AND abs(length(a.s) - length(b.s)) <= 1
        | WHERE levenshtein(a.s, b.s) <= 1
        | ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q103_dup_ngram_chars" ->
      """WITH raw AS (SELECT doc_id,
        |    CASE WHEN doc_id % 6 = 0 THEN text || ' ' ||
        |      array_to_string(list_slice(regexp_split_to_array(trim(text), '\s+'), 1, 7), ' ')
        |    ELSE text END AS text
        |  FROM documents WHERE text IS NOT NULL),
        | t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |       FROM raw WHERE trim(text) <> ''),
        | tok AS (SELECT doc_id, i, length(w[i]) AS l
        |         FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS i FROM t)),
        | g AS (SELECT doc_id, i AS start1, array_to_string(list_slice(w, i, i+4), ' ') AS gram
        |       FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-4)) AS i FROM t
        |             WHERE len(w) >= 5)),
        | d AS (SELECT doc_id, gram FROM g GROUP BY 1, 2 HAVING count(*) >= 2),
        | cov AS (SELECT DISTINCT g.doc_id, g.start1 + unnest(generate_series(0, 4)) AS ti
        |         FROM g JOIN d ON g.doc_id = d.doc_id AND g.gram = d.gram),
        | tot AS (SELECT doc_id, sum(l) AS n_tok_chars FROM tok GROUP BY 1),
        | dupc AS (SELECT tok.doc_id, sum(tok.l) AS n_dup_chars
        |          FROM tok JOIN cov ON tok.doc_id = cov.doc_id AND tok.i = cov.ti
        |          GROUP BY 1)
        | SELECT t.doc_id, CAST(tot.n_tok_chars AS BIGINT) AS n_tok_chars,
        |   CAST(coalesce(dupc.n_dup_chars, 0) AS BIGINT) AS n_dup_chars,
        |   round(CAST(coalesce(dupc.n_dup_chars, 0) AS DOUBLE) / tot.n_tok_chars, 6) AS dup_frac
        | FROM t JOIN tot USING (doc_id) LEFT JOIN dupc ON t.doc_id = dupc.doc_id
        | ORDER BY t.doc_id""".stripMargin.replaceAll("\n", " "),
    "q102_source_jaccard" ->
      """WITH sh AS (
        |  SELECT source, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT source, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT DISTINCT source, unnest(s) AS g FROM sh),
        | sz AS (SELECT source, count(*) AS n FROM ex GROUP BY source),
        | it AS (SELECT a.source AS src_a, b.source AS src_b,
        |          CAST(count(*) AS BIGINT) AS n_inter
        |        FROM ex a JOIN ex b ON a.g = b.g AND a.source < b.source
        |        GROUP BY 1, 2)
        | SELECT src_a, src_b, n_inter,
        |   round(CAST(n_inter AS DOUBLE) / (x.n + y.n - n_inter), 6) AS jaccard
        | FROM it JOIN sz x ON src_a = x.source JOIN sz y ON src_b = y.source
        | ORDER BY src_a, src_b""".stripMargin.replaceAll("\n", " "),
    "q97_encoding_damage" ->
      """SELECT doc_id, n_repl, n_ctrl,
        |  round(CASE WHEN len = 0 THEN 0.0
        |        ELSE CAST(n_repl + n_ctrl AS DOUBLE)/len END, 6) AS damage
        | FROM (SELECT doc_id, length(t) AS len,
        |   length(t) - length(replace(t, '�', '')) AS n_repl,
        |   length(t) - length(regexp_replace(t, '[\x00-\x08\x0b\x0c\x0e-\x1f]', '', 'g')) AS n_ctrl
        |  FROM (SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' corrupt��seg' || chr(7) || 'end'
        |         ELSE text END AS t
        |   FROM documents WHERE text IS NOT NULL))
        | WHERE n_repl + n_ctrl > 0 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q96_corpus_datasheet" ->
      s"""WITH d AS (SELECT lang, doc_id,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\\s+')) END AS n_tok,
        |  CASE WHEN trim(text)='' THEN 1 ELSE 0 END AS blank,
        |  CASE WHEN $normSql = '' THEN '__empty__:' || CAST(doc_id AS VARCHAR)
        |       ELSE md5($normSql) END AS fp
        | FROM documents WHERE text IS NOT NULL),
        | g AS (SELECT lang, fp, count(*) AS c, sum(n_tok) AS t, sum(blank) AS b
        |       FROM d GROUP BY lang, fp)
        | SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
        |  CAST(sum(t) AS BIGINT) AS n_tokens,
        |  CAST(sum(b) AS BIGINT) AS n_blank,
        |  CAST(count(*) AS BIGINT) AS n_distinct_fp,
        |  CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs
        | FROM g GROUP BY lang ORDER BY lang""".stripMargin.replaceAll("\n", " "),
    "q95_percentile_tiers" ->
      """WITH d AS (SELECT lang, doc_id,
        |  CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tok,
        |  CASE WHEN trim(text)='' THEN 0 ELSE list_aggregate(list_transform(regexp_split_to_array(trim(text),'\s+'), t -> length(t)), 'sum') END AS sum_len
        | FROM documents WHERE text IS NOT NULL),
        | sc AS (SELECT lang, doc_id,
        |  CASE WHEN n_tok=0 THEN 0.0 ELSE CAST(sum_len AS DOUBLE)/n_tok END AS score FROM d),
        | rk AS (SELECT lang, doc_id, score,
        |  row_number() OVER (PARTITION BY lang ORDER BY score DESC, doc_id) AS r,
        |  count(*) OVER (PARTITION BY lang) AS n FROM sc)
        | SELECT lang, doc_id, round(score, 6) AS score,
        |  CASE WHEN r <= ceil(0.25 * n) THEN 'head'
        |       WHEN r <= ceil(0.75 * n) THEN 'middle'
        |       ELSE 'tail' END AS tier
        | FROM rk ORDER BY lang, doc_id""".stripMargin.replaceAll("\n", " "),
    "q94_soft_sample" ->
      """SELECT doc_id, n_tokens, round(keep_p, 6) AS keep_p FROM (
        | SELECT doc_id, n_tokens, least(1.0, n_tokens / 40.0) AS keep_p FROM (
        |  SELECT doc_id, CASE WHEN trim(text)='' THEN 0
        |    ELSE len(regexp_split_to_array(trim(text),'\s+')) END AS n_tokens
        |  FROM documents WHERE text IS NOT NULL))
        | WHERE (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8) AS BIGINT) + 0.5)
        |       / 4294967296.0 < least(1.0, greatest(0.0, keep_p))
        | ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q93_vocab_oov" ->
      """WITH tok AS (SELECT doc_id, unnest(ts) AS t FROM (
        |   SELECT doc_id, CASE WHEN trim(text)='' THEN [] ELSE regexp_split_to_array(trim(text),'\s+') END AS ts
        |   FROM documents WHERE text IS NOT NULL)),
        | voc AS (SELECT t FROM (SELECT t, count(*) AS c FROM tok WHERE doc_id % 97 = 0 GROUP BY t)
        |         ORDER BY c DESC, t LIMIT 64),
        | st AS (SELECT tok.doc_id AS doc_id, count(*) AS n_tokens,
        |         CAST(sum(CASE WHEN voc.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |        FROM tok LEFT JOIN voc ON tok.t = voc.t
        |        WHERE tok.doc_id % 97 <> 0 GROUP BY tok.doc_id)
        | SELECT d.doc_id, coalesce(st.n_tokens, 0) AS n_tokens,
        |   coalesce(st.n_oov, 0) AS n_oov,
        |   round(CASE WHEN coalesce(st.n_tokens, 0) = 0 THEN 0.0
        |         ELSE CAST(st.n_oov AS DOUBLE)/st.n_tokens END, 6) AS oov_rate
        | FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL AND doc_id % 97 <> 0) d
        | LEFT JOIN st ON d.doc_id = st.doc_id ORDER BY d.doc_id""".stripMargin.replaceAll("\n", " "),
    "q65_repetition" ->
      """SELECT doc_id, n_ngrams, round(top_fraction, 6) AS top_fraction FROM (
        | SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_ngrams,
        |   CAST(max(c) AS DOUBLE)/sum(c) AS top_fraction FROM (
        |  SELECT doc_id, bg, count(*) AS c FROM (
        |   SELECT doc_id, unnest(CASE WHEN len(w) <= 2 THEN [array_to_string(w, ' ')]
        |     ELSE list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1]) END) AS bg
        |   FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |         WHERE text IS NOT NULL AND trim(text) <> ''))
        |  GROUP BY doc_id, bg) GROUP BY doc_id)
        | WHERE top_fraction > 0.1 ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q61_containment" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh)
        | SELECT id_a, id_b, n_common FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common,
        |    any_value(a.n_sh) AS na
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE n_common = na ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q62_token_cosine" ->
      """WITH tok AS (SELECT doc_id, tok, count(*) AS c FROM (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
        |  GROUP BY doc_id, tok),
        | nrm AS (SELECT doc_id, sqrt(sum(c*c)) AS n FROM tok GROUP BY doc_id)
        | SELECT id_a, id_b, round(cosine, 4) AS cosine FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(sum(a.c*b.c) AS DOUBLE) / (any_value(na.n) * any_value(nb.n)) AS cosine
        |  FROM tok a JOIN tok b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  JOIN nrm na ON na.doc_id = a.doc_id JOIN nrm nb ON nb.doc_id = b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE cosine >= 0.9 ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q68_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        | corpus AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
        | SELECT doc_id, count(*) AS n_hits FROM corpus JOIN bench USING (g)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q147_mojibake_repair" ->
      """WITH o AS (SELECT doc_id,
        |   CASE WHEN doc_id % 3 <> 0 THEN text || ' — café № 42 €…' ELSE text END AS orig
        |  FROM documents WHERE text IS NOT NULL)
        | SELECT doc_id, md5(orig) AS repaired_md5,
        |   (strlen(orig) > length(orig)) AS was_repaired
        | FROM o ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // the verdict in closed form: the construction guarantees 'rep'
    // sits far below the band and 'rand' inside it
    "q143_compress_filter" ->
      """SELECT doc_id, 'rand' AS kind FROM documents
        | ORDER BY doc_id, kind""".stripMargin.replaceAll("\n", " "),
    "q140_bloom_decontaminate" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 4 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-3), i -> array_to_string(list_slice(w, i, i+3), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), bench AS (SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0),
        | corpus AS (SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0)
        | SELECT doc_id, count(*) AS n_hits FROM corpus JOIN bench USING (g)
        | GROUP BY doc_id ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q38_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh)
        | SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " "),
    "q60_jaccard_prefix" ->
      """WITH sh AS (
        |  SELECT doc_id, list_distinct(CASE WHEN len(w) <= 3 THEN [array_to_string(w, ' ')]
        |    ELSE list_transform(generate_series(1, len(w)-2), i -> array_to_string(list_slice(w, i, i+2), ' ')) END) AS s
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w FROM documents
        |        WHERE text IS NOT NULL AND trim(text) <> '')
        | ), ex AS (SELECT doc_id, len(s) AS n_sh, unnest(s) AS g FROM sh)
        | SELECT id_a, id_b, round(jaccard, 4) AS jaccard FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS DOUBLE) / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)) AS jaccard
        |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        | WHERE jaccard >= 0.6 ORDER BY id_a, id_b""".stripMargin.replaceAll("\n", " ")
  )
}
