package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** The full training-data RELEASE workflow as a public API — the
  * composition a user runs before shipping a corpus, each stage one of
  * this library's individually-verified operators:
  *
  *   0. novelty pre-filter   ([[Decontaminate.noveltyScore]] vs an
  *                            existing release — optional, active iff a
  *                            reference corpus is passed: "is this new
  *                            data worth ingesting")
  *   1. PII scrub            ([[Pii.redact]] — map-side projection)
  *   1b. boilerplate lines   ([[TextStats.removeBoilerplateLines]] —
  *                            optional RefinedWeb-style line dedup,
  *                            BEFORE quality + doc dedup so site
  *                            furniture neither drags quality scores
  *                            nor manufactures near-dup pairs)
  *   2. quality battery      ([[TextStats.gopherVerdicts]])
  *   3. exact + near dedup   ([[Dedup.exactByFingerprint]] +
  *                            LSH pairs → connected components)
  *   3b. paragraph near-dup  ([[Paragraphs.nearDupDocPairsAuto]] →
  *                            connected components — optional, catches
  *                            boilerplate-sharing docs whole-doc Jaccard
  *                            misses)
  *   4. dup-span removal     ([[TextStats.removeDupSpans]] — Lee et al.
  *                            removal; fully-covered docs drop out)
  *   5. decontamination      ([[Decontaminate.clean]] vs a benchmark set)
  *   6. LM-score floor       ([[LmScore]] unigram mean-logprob quantile)
  *   7. sequence packing     ([[Packing.packChunks]] — span assignment)
  *
  * Every stage is a scan or a keyed shuffle (see SCALE.md per family);
  * the composition adds no operator of its own, so the 100 TB story is
  * the stages'. `ReleasePipelineSpec` pins the stage contracts compose
  * (counts monotone, packed spans tile the surviving stream exactly).
  */
object ReleasePipeline {

  final case class Config(
      textCol: String = "text",
      idCol: String = "doc_id",
      nearDupThreshold: Double = 0.9,
      shingleN: Int = 3,
      spanK: Int = 5,
      decontaminateN: Int = 3,
      lmFloorQuantile: Double = 0.1,
      oovLogp: Double = -12.0,
      packCapacity: Long = 512L,
      // stage 0 — used iff `noveltyRef` is passed to run(): keep docs with
      // novelty >= noveltyMin vs the reference; gram-less docs (nothing to
      // judge) pass through. The reference is an already-released CORPUS,
      // not an eval suite, so its gram set is NOT broadcast by default —
      // a caller with a known-small reference can opt in.
      noveltyN: Int = 3,
      noveltyMin: Double = 0.3,
      noveltyBroadcastRef: Boolean = false,
      // stage 3b — off by default (doc-level dedup already ran).
      paragraphDedup: Boolean = false,
      paragraphWindow: Int = 16,
      paragraphThreshold: Double = 0.5,
      // stage 3c — CCNet/RefinedWeb EXACT paragraph-hash dedup
      // (keep-first per normalized fingerprint, corpus-global): later
      // copies of a repeated blank-line paragraph are cut OUT of their
      // documents (q163's stage, the language-agnostic flavor —
      // `Paragraphs.dedupFirst`); docs whose every paragraph was a copy
      // drop. Distinct from 3b (NEAR-dup pairs drop whole docs) and
      // from 1b (line-df strips lines repeated >= minDf times
      // EVERYWHERE, first copy included). Off by default;
      // batch-relative under appendBatch like the other
      // corpus-relative stages.
      paragraphHashDedup: Boolean = false,
      // stage 1b — RefinedWeb/CCNet boilerplate-LINE removal, BEFORE the
      // quality battery and doc dedup (site furniture inflates both
      // quality penalties and inter-doc similarity; stripping it first
      // judges and dedups the content). Off by default: the line-df
      // statistic is corpus-relative, so batch appends apply it
      // batch-relatively (same caveat as the other batch-relative
      // stages — see appendBatch).
      boilerplateLineDedup: Boolean = false,
      boilerplateMinDf: Int = 10)

  /** Stage survivor counts. Optional stages that are off repeat their
    * predecessor's count (the stage passed everything through).
    */
  final case class Stats(
      input: Long,
      afterNovelty: Long,
      afterBoilerplate: Long,
      afterQuality: Long,
      afterDedup: Long,
      afterParaDedup: Long,
      afterDespan: Long,
      afterDecontaminate: Long,
      afterLmFloor: Long,
      afterParaHash: Long = -1L) // -1 only on legacy constructions

  /** `corpus`: the surviving (id, text) stream (text fully scrubbed);
    * `packed`: its packing assignment at `packCapacity`, built on FIRST
    * ACCESS (see [[Result.packed]]); `minhashSig`:
    * the (id, sig, fp) REGISTRY frame ([[registryOf]]) stage 3 computed
    * over the exact-dedup survivors (lazily persisted —
    * [[appendBatch]] and [[ReleaseDiff]] diff future candidate batches
    * against this release through it, and parity harnesses reuse it
    * instead of re-running the sketch kernel); `paraPairs`: stage 3b's
    * paragraph near-dup PAIR frame (id_a, id_b), retained for the same
    * reason when `cfg.paragraphDedup` is on (lazily persisted; the pair
    * kernel is the single most expensive stage, so parity harnesses
    * reuse the pairs rather than re-running the window split + pair
    * search — see the q82 gate). Both persists, and every stage
    * checkpoint, belong to the current build ([[graft.core.Frames]]):
    * every member, lazy ones included, answers until the next build
    * opens.
    */
  final class Result(val corpus: DataFrame, packedFn: => DataFrame,
      statsFn: () => Stats,
      val minhashSig: DataFrame, val paraPairs: Option[DataFrame] = None,
      val budgeted: Option[DataFrame] = None) {
    /** Stage 7's packing assignment, MATERIALIZED ON FIRST ACCESS and
      * memoized: [[Packing.packChunks]] runs two eager probe jobs (the
      * bucket-boundary quantiles and the per-bucket subtotals) that no
      * caller which only consumes `corpus` should pay for.
      */
    lazy val packed: DataFrame = packedFn
    /** Stage survivor counts, computed on FIRST ACCESS (r18): each count
      * is one job over a checkpointed stage frame, ~10 jobs per run() —
      * pure overhead for the many callers (every release-family query)
      * that never read them.
      */
    lazy val stats: Stats = statsFn()
    /** This release as [[appendBatch]]'s frozen prior. */
    def toPrior: PriorRelease = PriorRelease(corpus, minhashSig)
  }

  /** Run the release workflow. `benchmark` is the evaluation set to
    * decontaminate against (its text column is `cfg.textCol`);
    * `noveltyRef` is the already-released corpus to score acquisition
    * novelty against (same text column) — omitted, stage 0 is skipped.
    * `checkpointDir` makes the build RESTARTABLE: each stage boundary
    * persists to `<dir>/<stage>` parquet and a re-run resumes from the
    * last completed stage (read-or-compute — the reference's S5/S6
    * checkpoint idiom applied to the whole workflow). At 100 TB a
    * multi-hour release build dying at stage 6 restarts in minutes.
    */
  /** @param budgetStage optional PLUGGABLE budget/mixture stage (round
    *   16): receives the final surviving corpus as (doc_id, text,
    *   n_tokens) and returns the release-mixture frame — e.g.
    *   [[Sampling.byTokenBudget]] for a pure downsample or
    *   [[Sampling.epochsToBudget]] for CCNet/LLaMA-style per-stratum
    *   epoch upsampling (the q158/q162 compositions, now first-class on
    *   the production API). The stage output lands in
    *   [[Result.budgeted]]; `corpus`/`packed`/`stats` and the
    *   registry invariants are untouched (an epoch stage DUPLICATES
    *   rows, which must never leak into the dedup registry or the
    *   packing key space).
    */
  def run(docs: DataFrame, benchmark: DataFrame,
          cfg: Config = Config(),
          noveltyRef: Option[DataFrame] = None,
          checkpointDir: Option[String] = None,
          budgetStage: Option[DataFrame => DataFrame] = None): Result = {
    val id = col(s"`${cfg.idCol}`")
    val input = docs.where(col(s"`${cfg.textCol}`").isNotNull)

    // Stage dirs are keyed by NAME only, so a resumed run must prove it
    // is the SAME build: a `_manifest.json` (config + input/benchmark/
    // reference fingerprints) is written before any stage and checked on
    // every subsequent run against the dir. A mismatch means the caller
    // changed semantics under an old checkpoint — resuming would splice
    // old-config stage outputs into a new-config build with no error
    // (silent wrong output), so we fail loudly instead.
    checkpointDir.foreach { d =>
      checkOrWriteManifest(docs.sparkSession, d,
        manifest(cfg, input, benchmark, noveltyRef))
    }

    // 0. Acquisition novelty floor — drop docs the existing release
    // already covers. Anti-join on the DROP set so gram-less docs (no
    // novelty row) pass through instead of silently vanishing.
    val acquired = noveltyRef match {
      case None => input
      case Some(ref) =>
        val redundant = Decontaminate.noveltyScore(
            input, cfg.textCol, cfg.idCol,
            ref.where(col(s"`${cfg.textCol}`").isNotNull), cfg.textCol,
            n = cfg.noveltyN,
            broadcastReference = cfg.noveltyBroadcastRef)
          .where(col("novelty") < cfg.noveltyMin).select("id")
        input.join(redundant, id === redundant("id"), "left_anti")
    }

    // Stage boundaries: see [[Boundaries]].
    val boundaries = new Boundaries(docs.sparkSession, checkpointDir)
    import boundaries.{fused, staged}

    // 1. PII scrub — pure projection, row count unchanged.
    val scrubbed = staged("1_scrub", acquired.select(id.as("doc_id"),
      Pii.redact(col(s"`${cfg.textCol}`")).as("text")))

    // 1b. Boilerplate-LINE removal (optional): lines whose trimmed form
    // appears in >= boilerplateMinDf distinct docs are site furniture —
    // stripped corpus-wide BEFORE quality scoring and dedup. Docs
    // scrubbed to whitespace drop here (the despan-stage convention).
    val lineClean =
      if (!cfg.boilerplateLineDedup) scrubbed
      else staged("1b_boilerplate", TextStats.removeBoilerplateLines(
          scrubbed, "text", "doc_id", cfg.boilerplateMinDf)
        .where(length(trim(col("scrubbed"))) > 0)
        .select(col("id").as("doc_id"), col("scrubbed").as("text")))

    // 2. Gopher-style quality battery. Single consumer (stage 3) —
    // fused into the exact-dedup materialization.
    val qualified = fused("2_quality", lineClean.join(
      TextStats.gopherVerdicts(lineClean, "text", "doc_id")
        .where(col("pass")).select(col("id").as("doc_id")), "doc_id"))

    // 3. Exact dedup, then LSH near-dup clusters (keep cluster-min id).
    val exact = staged("3_exact", Dedup.exactByFingerprint(qualified, "text", "doc_id"))
    // Registry rows as a shared lazily-persisted frame: the drop-set
    // below consumes the signatures, and Result exposes the frame for
    // reuse (appendBatch diffs future candidate batches against this
    // release — sig for near-dup, fp for exact-dup) without a second
    // sketch-kernel pass. Lazy persist costs nothing if the build
    // crashes before the dedup stage and nothing extra when nobody
    // reuses it.
    val sig = registryOf(exact, "text", "doc_id", cfg.shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Frames.own(docs.sparkSession, sig)
    val deduped = staged("3_dedup", {
      val drops = Dedup.connectedComponents(
          Dedup.minhashLshPairs(exact, "text", "doc_id",
            shingleN = cfg.shingleN, threshold = cfg.nearDupThreshold,
            precomputedSig = Some(sig)))
        .where(col("id") =!= col("label")).select("id")
      exact.join(drops, exact("doc_id") === drops("id"), "left_anti")
    })

    // 3b. Paragraph-granular near-dup — boilerplate-sharing docs that
    // whole-doc Jaccard misses; greedy keep-cluster-min, same convention
    // as stage 3. The pair frame is hoisted out and lazily persisted so
    // Result can retain it (the minhashSig convention): the window-split
    // + pair-search kernel dominates this stage's cost, and parity
    // harnesses reuse the pairs instead of re-running it. Lazy persist
    // costs nothing on the durable-resume path (the staged body never
    // runs, so the frame is never materialized).
    val paraPairs: Option[DataFrame] =
      if (!cfg.paragraphDedup) None
      else Some(Paragraphs.nearDupDocPairsAuto(
            Paragraphs.splitTokenWindows(deduped, "text", "doc_id",
              cfg.paragraphWindow),
            cfg.shingleN, cfg.paragraphThreshold,
            knownMaxShingles = Some(cfg.paragraphWindow - cfg.shingleN + 1))
          .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    paraPairs.foreach(graft.core.Frames.own(docs.sparkSession, _))
    // Single consumer each (the next stage; the CC edge collect runs
    // eagerly inside connectedComponents regardless) — fused forward;
    // the next staged boundary (5_decontaminate) truncates the plan.
    val paraDeduped =
      if (!cfg.paragraphDedup) deduped
      else fused("3b_paradedup", {
        val pDrops = Dedup.connectedComponents(paraPairs.get)
          .where(col("id") =!= col("label")).select("id")
        deduped.join(pDrops, deduped("doc_id") === pDrops("id"), "left_anti")
      })

    // 3c. Exact paragraph-hash dedup (keep-first): later copies of a
    // repeated paragraph are cut out of their docs; all-copy docs drop.
    val paraHashed =
      if (!cfg.paragraphHashDedup) paraDeduped
      else fused("3c_parahash",
        Paragraphs.dedupFirst(paraDeduped, "text", "doc_id"))

    // 4. Exact-substring scrub: REMOVE corpus-duplicated spans and drop
    // docs scrubbed to nothing (the paper's degenerate case).
    val despanned = fused("4_despan", TextStats.removeDupSpans(
        paraHashed, "text", "doc_id", k = cfg.spanK)
      .where(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("scrubbed").as("text")))

    // 5. Decontaminate against the benchmark.
    val clean = staged("5_decontaminate", Decontaminate.clean(
      despanned, "text", "doc_id",
      benchmark.where(col(s"`${cfg.textCol}`").isNotNull)
        .select(col(s"`${cfg.textCol}`").as("text")), "text",
      n = cfg.decontaminateN))

    // 6. Unigram-LM floor: drop the lowest-scoring quantile. A corpus
    // with no tokens left (everything deduped/scrubbed away — a real
    // degenerate case, e.g. a fully-redundant acquisition) has no model
    // to train and no quantile to cut: the floor passes it through
    // instead of crashing in trainUnigram.
    val kept = staged("6_lmfloor", lmFloor(clean, cfg))

    // 7. Packing assignment over the survivors.
    val sized = kept.select(col("doc_id"),
      graft.functions.TextFns.tokenCount(col("text")).cast("long").as("len"))
    lazy val packed = Packing.packChunks(sized, "doc_id", "len", cfg.packCapacity)

    val stats = () => {
      val inputN = input.count()
      val dedupedN = deduped.count()
      val afterNoveltyN = if (noveltyRef.isEmpty) inputN else scrubbed.count()
      val afterParaDedupN = if (!cfg.paragraphDedup) dedupedN
                            else paraDeduped.count()
      Stats(
        input = inputN,
        // PII scrub is 1:1, so the scrubbed checkpoint carries stage 0's
        // count — recounting `acquired` would re-run the novelty probe.
        afterNovelty = afterNoveltyN,
        afterBoilerplate = if (!cfg.boilerplateLineDedup) afterNoveltyN
                           else lineClean.count(),
        afterQuality = qualified.count(),
        afterDedup = dedupedN,
        afterParaDedup = afterParaDedupN,
        afterParaHash = if (!cfg.paragraphHashDedup) afterParaDedupN
                        else paraHashed.count(),
        afterDespan = despanned.count(),
        afterDecontaminate = clean.count(),
        afterLmFloor = kept.count())
    }
    // Pluggable budget/mixture stage over the survivors — reuses stage
    // 7's token sizing (one kernel call per doc, no re-tokenize).
    val budgeted = budgetStage.map { f =>
      f(kept.withColumn("n_tokens",
        graft.functions.TextFns.tokenCount(col("text")).cast("long")))
    }
    new Result(kept, packed, stats, sig, paraPairs, budgeted)
  }

  /** Shared stage 6 / a7 body: unigram-LM mean-logprob quantile floor
    * over `clean` (doc_id, text). Empty or token-free survivor sets pass
    * through unchanged — there is no model to train and no quantile to
    * cut, and both [[run]] and [[appendBatch]] can legitimately arrive
    * here with nothing left (fully-redundant input).
    */
  private def lmFloor(clean: DataFrame, cfg: Config): DataFrame = {
    val hasTokens = !clean.where(
      graft.functions.TextFns.tokenCount(col("text")) > 0).isEmpty
    if (!hasTokens) clean
    else {
      val uni = LmScore.trainUnigram(clean, "text")
      val scored = LmScore.scoreDocs(clean, "text", "doc_id", uni, cfg.oovLogp)
      val cut = scored
        .agg(expr(s"approx_percentile(mean_logp, ${cfg.lmFloorQuantile})"))
        .head().getDouble(0)
      clean.join(
        scored.where(col("mean_logp") >= cut).select(col("id").as("doc_id")),
        "doc_id")
    }
  }

  /** A shipped release as seen by [[appendBatch]]: the released corpus
    * (`doc_id`, `text` — [[Result]].corpus's column convention) and its
    * REGISTRY `(id, sig, fp)` — MinHash signature for near-dup, exact
    * fingerprint for byte-level dup, per doc ([[registryOf]]).
    *
    * The registry is the release build's post-exact-dedup population —
    * [[Result.minhashSig]] from [[run]], or [[AppendResult.minhashSig]]
    * from a previous append. It deliberately includes docs the later
    * stages dropped: greedy incremental dedup compares a new doc against
    * everything previously SEEN at the dedup stage, which is what makes
    * chained appends equal a one-shot append (see [[appendBatch]]).
    *
    * `corpus` is held LAZILY (evaluated on first access, then memoized):
    * [[AppendResult.toPrior]] hands the next append a corpus whose batch
    * tail is not built yet, and an append that never reads its prior's
    * corpus must not build it.
    */
  final class PriorRelease(corpusFn: => DataFrame, val minhashSig: DataFrame) {
    lazy val corpus: DataFrame = corpusFn
  }
  object PriorRelease {
    def apply(corpus: => DataFrame, minhashSig: DataFrame): PriorRelease =
      new PriorRelease(corpus, minhashSig)
  }

  /** Registry rows `(id, sig, fp)` over a `(doc_id, text)` frame: the
    * MinHash signature (near-dup identity) and normalized-text
    * fingerprint (exact identity) of every doc, in one map-side select.
    * Docs with nothing to tokenize (whitespace-only) have no near-dup
    * identity and a deliberately-unique exact key in
    * [[Dedup.exactByFingerprint]] — they carry no registry row.
    * Consumers that only need signatures (bandBuckets, precomputedSig)
    * ignore the extra `fp` column.
    */
  def registryOf(df: DataFrame, textCol: String, idCol: String,
                 shingleN: Int, numHashes: Int = 64): DataFrame =
    df.select(col(s"`$idCol`").as("id"),
        graft.functions.SketchExpressions
          .minhashSig(col(s"`$textCol`"), shingleN, numHashes).as("sig"),
        graft.functions.TextFns.fingerprint(col(s"`$textCol`")).as("fp"))
      .where(col("sig").isNotNull)

  /** New-batch survivor counts, one per [[appendBatch]] stage. */
  final case class AppendStats(
      batchInput: Long,
      afterBoilerplate: Long,
      afterQuality: Long,
      afterExact: Long,
      afterNearDup: Long,
      afterParaDedup: Long,
      afterDespan: Long,
      afterDecontaminate: Long,
      afterLmFloor: Long)

  /** One [[appendBatch]]'s output, in two parts.
    *
    * BUILT WHEN THE CALL RETURNS — the dedup boundary:
    * `dedupSurvivors`: the batch ids surviving quality → exact →
    * near-dup (BEFORE the batch-relative paragraph stage), the surface
    * on which chained == one-shot parity holds exactly; `minhashSig`:
    * the chained registry for the NEXT append (prior registry ∪ this
    * batch's post-exact-dedup signatures); `registryNew`: just this
    * batch's registry contribution (minhashSig minus the prior part) —
    * what an append-only registry STORE persists per batch
    * ([[graft.streaming.StreamingReleaseAppend]]). The batch signature
    * persist and every stage checkpoint belong to the current build
    * ([[graft.core.Frames]]).
    *
    * MATERIALIZED ON FIRST ACCESS — the batch-relative tail (paragraph
    * near-dup, dup-span removal, decontamination, LM floor) and the
    * packing, each run once and memoized: `newKept`: the batch docs that
    * survive every stage (id, text — despanned/scrubbed); `corpus`:
    * prior ∪ newKept (the prior side is a LAZY union — consuming only
    * `newKept` never scans the prior release); `packedNew`: packing
    * assignment over the new survivors only (released packs are
    * immutable — repacking the whole corpus would invalidate shipped
    * shard boundaries; reading `newKept` does not run the packing
    * probes); `stats`. [[toPrior]] forces none of them, so an append
    * consumed only at its dedup boundary (a chained parity check) never
    * builds its tail. The first access runs the tail's eager jobs over
    * the dedup-boundary checkpoint, so it works until the next build
    * opens. With `checkpointDir` the tail (not the packing) is forced
    * before [[appendBatch]] returns.
    */
  final class AppendResult(
      newKeptFn: => DataFrame,
      corpusFn: => DataFrame,
      packedNewFn: => DataFrame,
      val dedupSurvivors: DataFrame,
      val minhashSig: DataFrame,
      val registryNew: DataFrame,
      statsFn: () => AppendStats) {
    lazy val newKept: DataFrame = newKeptFn
    lazy val corpus: DataFrame = corpusFn
    lazy val packedNew: DataFrame = packedNewFn
    /** Stage survivor counts, computed on FIRST ACCESS (the
      * [[Result.stats]] convention — ~9 count jobs per append that only
      * stat-reading callers pay; reading them also builds the tail).
      */
    lazy val stats: AppendStats = statsFn()
    /** The grown release as the NEXT append's frozen prior; its corpus
      * stays unbuilt until that append's caller reads it.
      */
    def toPrior: PriorRelease = PriorRelease(corpus, minhashSig)
  }

  /** Append a new document batch to a FROZEN prior release — the
    * incremental form of [[run]]. The batch runs the same stage battery
    * (PII scrub → optional boilerplate-line removal → quality → exact
    * dedup → near-dup → optional paragraph near-dup → dup-span removal →
    * decontamination → LM floor → packing); the prior release is never
    * modified and never re-judged.
    *
    * SCALE CONTRACT — the whole point of the incremental form: the only
    * prior-release data this function COMPUTES over is
    * `prior.minhashSig`, a (id, 64-int sig) frame ~10^4× smaller than
    * the corpus text. Appending 1 TB to a 100 TB release costs
    * O(batch) work plus one band-bucket join against the registry;
    * `prior.corpus` is touched only if the caller consumes
    * `AppendResult.corpus` — also when the prior is a previous append's
    * `toPrior`, whose tail is then never built. The call itself
    * materializes the batch only through the dedup boundary (a1–a4 and
    * the batch registry); the batch-relative tail and the packing run
    * on first access to [[AppendResult]]'s lazy members.
    * Gram-level novelty vs the prior TEXT
    * (run()'s stage-0 `noveltyRef`) is deliberately absent here — it
    * would re-scan the release; callers who can afford that pass the
    * prior corpus to [[run]]'s noveltyRef instead.
    *
    * DEDUP SEMANTICS — greedy keep-first-seen, the incremental family's
    * convention (same as `StreamingDedup.LshIndex`), NOT run()'s
    * CC-keep-min: a batch doc is dropped iff it has a verified near-dup
    * (est Jaccard ≥ `cfg.nearDupThreshold`) in the prior REGISTRY or a
    * smaller-id near-dup in the same batch (kept or itself dropped —
    * the registry-includes-dropped rule); exact duplicates of REGISTRY
    * docs are dropped at the exact stage via the registry's fingerprints
    * (see the stage-3 comment for why signature collision alone is not
    * enough). Because every drop rule is "∃ smaller/earlier neighbor
    * among all docs ever seen at this stage", splitting a batch into
    * id-ordered sub-batches cannot change the outcome:
    *
    *   appendBatch(P, b1 ++ b2).dedupSurvivors
    *     == appendBatch(appendBatch(P, b1).toPrior, b2).dedupSurvivors
    *        ∪ appendBatch(P, b1).dedupSurvivors
    *
    * (ReleaseAppendSpec pins this; q87 gates on it under the driver.
    * The identity covers the registry too: the post-exact populations
    * are split-invariant, so chained and one-shot appends hand the SAME
    * registry to the next append.) The post-dedup stages are batch-relative — the
    * paragraph pass and dup-SPAN removal see only the batch's own
    * paragraphs/spans and the LM floor is the batch's own quantile — so
    * full-output parity across different batch splits is NOT a contract
    * (the release you get depends on how you batched, exactly as with
    * any incremental quality floor).
    *
    * `checkpointDir` gives the same durable stage-resume as [[run]]
    * (manifest-guarded, `_SUCCESS`-gated); stage names are `a*`-prefixed
    * so a dir can never mix full-build and append stages. In that mode
    * the tail is forced before the call returns, so every stage dir
    * a1–a7 exists as soon as it does.
    */
  def appendBatch(prior: PriorRelease, batch: DataFrame, benchmark: DataFrame,
                  cfg: Config = Config(),
                  checkpointDir: Option[String] = None): AppendResult = {
    val id = col(s"`${cfg.idCol}`")
    val input = batch.where(col(s"`${cfg.textCol}`").isNotNull)
    val spark = batch.sparkSession

    checkpointDir.foreach { d =>
      checkOrWriteManifest(spark, d,
        appendManifest(cfg, input, benchmark, prior))
    }
    val boundaries = new Boundaries(spark, checkpointDir)
    import boundaries.{fused, staged}

    require(prior.minhashSig.columns.contains("fp"),
      "appendBatch: the prior registry must carry (id, sig, fp) rows — " +
        "build it with ReleasePipeline.registryOf (run() and appendBatch " +
        "already return this shape)")
    // Batch ids must be disjoint from the registry's: the cross join
    // excludes same-id matches (retry safety in the streaming twin), so
    // a reused id would silently skip its own comparison. One semi-join
    // count against the metadata-sized registry id column.
    val clashes = input.select(id.as("id"))
      .join(prior.minhashSig.select("id"), Seq("id"), "left_semi").count()
    require(clashes == 0L,
      s"appendBatch: $clashes batch ${cfg.idCol} value(s) already exist in " +
        "the prior release's registry — ids must be globally unique across releases")

    // 1–2. PII scrub, optional boilerplate-line removal, quality battery
    // — per-doc / batch-relative, same stage order as run(). The line-df
    // statistic here sees only the BATCH's lines (prior text is out of
    // the sig-only contract), so furniture shared with the prior release
    // but rare within a batch survives — the same batch-relativity as
    // the span/LM stages, documented above.
    val scrubbed = staged("a1_scrub", input.select(id.as("doc_id"),
      Pii.redact(col(s"`${cfg.textCol}`")).as("text")))
    val lineClean =
      if (!cfg.boilerplateLineDedup) scrubbed
      else staged("a1b_boilerplate", TextStats.removeBoilerplateLines(
          scrubbed, "text", "doc_id", cfg.boilerplateMinDf)
        .where(length(trim(col("scrubbed"))) > 0)
        .select(col("id").as("doc_id"), col("scrubbed").as("text")))
    val qualified = fused("a2_quality", lineClean.join(
      TextStats.gopherVerdicts(lineClean, "text", "doc_id")
        .where(col("pass")).select(col("id").as("doc_id")), "doc_id"))

    // 3. Exact dedup: within the batch, then against the registry's
    // FINGERPRINTS. The second leg matters for the chaining identity:
    // normalized-equal docs can differ in raw text, so their MinHash
    // signatures (raw-token shingles) need not collide — without the fp
    // anti-join, a punctuation-variant of an earlier batch's doc would
    // be exact-dropped in a one-shot append but missed in a chained one.
    // With it, the post-a3 population (and therefore the registry
    // contribution) is split-invariant. Whitespace-only docs' fp is
    // md5("") — never present in a registry (registryOf drops docs with
    // no near-dup identity), so they pass through as in exactByFingerprint.
    val exact = staged("a3_exact", {
      val within = Dedup.exactByFingerprint(qualified, "text", "doc_id")
      val fpDrops = within
        .select(col("doc_id"),
          graft.functions.TextFns.fingerprint(col("text")).as("__fp"))
        .join(prior.minhashSig.select(col("fp").as("__fp")),
          Seq("__fp"), "left_semi")
        .select("doc_id")
      within.join(fpDrops, Seq("doc_id"), "left_anti")
    })
    val sigBatch = registryOf(exact, "text", "doc_id", cfg.shingleN)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Frames.own(spark, sigBatch)

    // 4. Greedy near-dup: vs the prior registry (band join on the RETAINED
    // sig frame — no prior text scan), then within the batch (a < b drops
    // b, regardless of a's own fate).
    val deduped = staged("a4_dedup", {
      val vsPrior = Dedup.minhashLshPairsBetween(exact, prior.corpus,
          "text", "doc_id", cfg.shingleN,
          threshold = cfg.nearDupThreshold,
          precomputedSigLeft = Some(sigBatch),
          precomputedSigRight = Some(prior.minhashSig))
        .select(col("id_left").as("id"))
      val inBatch = Dedup.minhashLshPairs(exact, "text", "doc_id",
          shingleN = cfg.shingleN, threshold = cfg.nearDupThreshold,
          precomputedSig = Some(sigBatch))
        .select(col("id_b").as("id"))
      val drops = vsPrior.union(inBatch).distinct()
      exact.join(drops, exact("doc_id") === drops("id"), "left_anti")
    })

    // Below the dedup boundary every stage is a lazy val: built once,
    // on FIRST ACCESS to the AppendResult members that read it.

    // 3b-analogue. Paragraph near-dup within the batch (greedy, same
    // drop rule). Prior-vs-batch paragraph overlap would need the prior
    // TEXT — out of the sig-only contract, documented above.
    lazy val paraDeduped =
      if (!cfg.paragraphDedup) deduped
      else fused("a4b_paradedup", {
        val paras = Paragraphs.splitTokenWindows(deduped, "text", "doc_id",
          cfg.paragraphWindow)
        val pDrops = Paragraphs.nearDupDocPairsAuto(paras, cfg.shingleN,
            cfg.paragraphThreshold,
            knownMaxShingles = Some(cfg.paragraphWindow - cfg.shingleN + 1))
          .where(col("doc_a") < col("doc_b")).select(col("doc_b").as("id"))
          .distinct()
        deduped.join(pDrops, deduped("doc_id") === pDrops("id"), "left_anti")
      })

    // 5–7. Batch-relative tail: span scrub, decontamination, LM floor.
    lazy val despanned = fused("a5_despan", TextStats.removeDupSpans(
        paraDeduped, "text", "doc_id", k = cfg.spanK)
      .where(col("n_kept") > 0)
      .select(col("id").as("doc_id"), col("scrubbed").as("text")))
    lazy val clean = staged("a6_decontaminate", Decontaminate.clean(
      despanned, "text", "doc_id",
      benchmark.where(col(s"`${cfg.textCol}`").isNotNull)
        .select(col(s"`${cfg.textCol}`").as("text")), "text",
      n = cfg.decontaminateN))
    // Same no-token degenerate-case guard as run()'s stage 6: a batch
    // that dedups to nothing (a fully re-delivered crawl) must return an
    // empty newKept, not crash training the floor model.
    lazy val kept = staged("a7_lmfloor", lmFloor(clean, cfg))
    // Durable mode keeps its resume contract: every stage dir exists
    // once the call returns.
    checkpointDir.foreach(_ => kept)

    // 8. Pack the NEW survivors only; released packs stay as shipped.
    lazy val sized = kept.select(col("doc_id"),
      graft.functions.TextFns.tokenCount(col("text")).cast("long").as("len"))
    lazy val packed = Packing.packChunks(sized, "doc_id", "len", cfg.packCapacity)

    val stats = () => {
      val dedupN = paraDeduped.count()
      val batchInputN = input.count()
      AppendStats(
        batchInput = batchInputN,
        afterBoilerplate = if (!cfg.boilerplateLineDedup) batchInputN
                           else lineClean.count(),
        afterQuality = qualified.count(),
        afterExact = exact.count(),
        afterNearDup = deduped.count(),
        afterParaDedup = dedupN,
        afterDespan = despanned.count(),
        afterDecontaminate = clean.count(),
        afterLmFloor = kept.count())
    }
    // Combined corpus under the Result convention (doc_id, text) —
    // [[PriorRelease]].corpus carries the same names, so chained appends
    // and run()-built priors compose without renames.
    new AppendResult(
      newKeptFn = kept,
      corpusFn = prior.corpus.select(col("doc_id"), col("text"))
        .unionByName(kept.select(col("doc_id"), col("text"))),
      packedNewFn = packed,
      dedupSurvivors = deduped.select("doc_id"),
      minhashSig = prior.minhashSig.unionByName(sigBatch),
      registryNew = sigBatch,
      statsFn = stats)
  }

  /** Append-build fingerprint: [[manifest]]'s fields plus the prior
    * registry's id fingerprint — resuming an append against a DIFFERENT
    * prior release must fail loudly, not splice dedup verdicts across
    * releases.
    */
  private[graft] def appendManifest(cfg: Config, input: DataFrame,
      benchmark: DataFrame, prior: PriorRelease): String = {
    val b = benchmark.where(col(s"`${cfg.textCol}`").isNotNull)
    s"""{"mode": "append",
       | "config": "${esc(cfg.toString)}",
       | "input": "${fp(input, cfg.idCol)}",
       | "benchmark": "${fp(b, cfg.textCol)}",
       | "priorRegistry": "${fp(prior.minhashSig, "id")}"}""".stripMargin
  }

  /** Build fingerprint: the full `Config` (a case class, so `toString`
    * is a stable total rendering of every field) plus a count + xor'd
    * xxhash64 per input frame. The doc fingerprint hashes the ID column
    * only — a column-pruned scan, cheap even at 100 TB where hashing
    * the text itself would re-read the whole corpus just to resume; the
    * manifest therefore catches added/removed/re-keyed docs but not an
    * in-place text edit under an unchanged id (callers rewriting text
    * in place must clear the checkpoint dir). The benchmark and novelty
    * reference hash their text: both are small by construction (an eval
    * suite; a released corpus sampled for novelty) and their content IS
    * the semantics.
    */
  private[graft] def manifest(cfg: Config, input: DataFrame,
      benchmark: DataFrame, noveltyRef: Option[DataFrame]): String = {
    val b = benchmark.where(col(s"`${cfg.textCol}`").isNotNull)
    val n = noveltyRef
      .map(r => fp(r.where(col(s"`${cfg.textCol}`").isNotNull), cfg.textCol))
      .getOrElse("none")
    // One key per line: the mismatch error is diffable by eye.
    s"""{"config": "${esc(cfg.toString)}",
       | "input": "${fp(input, cfg.idCol)}",
       | "benchmark": "${fp(b, cfg.textCol)}",
       | "noveltyRef": "$n"}""".stripMargin
  }

  /** Manifest fingerprint of `df`: its row count and the xor of
    * xxhash64 over column `c`.
    */
  private def fp(df: DataFrame, c: String): String = {
    val r = df.agg(count(lit(1)), coalesce(expr(s"bit_xor(xxhash64(`$c`))"), lit(0L))).head()
    s"${r.getLong(0)}:${r.getLong(1)}"
  }

  /** JSON string escape for manifest values. */
  private def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")

  /** The stage boundaries of one [[run]] or [[appendBatch]] build.
    *
    * Each `staged` boundary is an EAGER localCheckpoint, for two
    * compounding reasons. (1) Reuse: later stages, the eager edge
    * collects, and the stage-count stats each consume the frame again —
    * without materialization every consumer re-runs the whole upstream
    * cascade (LSH + span index + paragraph routing several times over).
    * (2) Lineage truncation: a persist alone leaves each stage's plan
    * EMBEDDED in the next one's, and stages that reference their input
    * twice (every join-with-derived-drop-set here) DOUBLE the plan tree
    * per stage — by stage 7 the driver spends minutes stringifying
    * exponential plan trees for listener events, dwarfing execution.
    * localCheckpoint cuts the subtree to a leaf: plans stay O(stage),
    * which is also what keeps Catalyst/AQE planning time bounded on a
    * real cluster. The blocks belong to the current build
    * ([[graft.core.Frames]]): the next build frees them.
    *
    * Single-consumer boundaries (`fused`): with the stats counts lazy,
    * some stage frames have exactly ONE live consumer — the next stage.
    * Materializing those buys no reuse and costs a full job + block
    * round-trip each, so the in-memory path fuses them into the next
    * stage's materialization (plan depth stays O(2 stages) — the next
    * boundary truncates).
    *
    * With `checkpointDir` every boundary, `fused` ones included, is
    * DURABLE parquet instead (read-or-compute): same reuse and lineage
    * truncation, plus a crashed run resumes from its last completed
    * stage — resume granularity is the point there. The stage body is
    * by-name so a resumed stage skips its eager work (the CC edge
    * collects, the LM cut) entirely.
    */
  private final class Boundaries(spark: org.apache.spark.sql.SparkSession,
                                 checkpointDir: Option[String]) {
    def staged(name: String, df: => DataFrame): DataFrame =
      checkpointDir match {
        case Some(d) => graft.sources.Checkpoint.readOrCompute(spark, s"$d/$name")(df)
        case None => df.localCheckpoint(true)
      }
    def fused(name: String, df: => DataFrame): DataFrame =
      checkpointDir match {
        case Some(d) => graft.sources.Checkpoint.readOrCompute(spark, s"$d/$name")(df)
        case None => df
      }
  }

  /** First run against `dir` records the manifest (temp-file + rename so
    * a crash mid-write leaves no half manifest); later runs must match
    * it exactly or the build refuses to resume.
    */
  private def checkOrWriteManifest(spark: org.apache.spark.sql.SparkSession,
      dir: String, expected: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path = new org.apache.hadoop.fs.Path(dir, "_manifest.json")
    if (fs.exists(path)) {
      val in = fs.open(path)
      val found = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
                  finally in.close()
      if (found != expected) throw new IllegalStateException(
        s"Release checkpoint dir $dir was built by a DIFFERENT run — " +
        "resuming would mix stage outputs across configs/inputs. " +
        s"Clear the dir or use a fresh one.\n--- recorded ---\n$found\n" +
        s"--- this run ---\n$expected")
    } else {
      val tmp = new org.apache.hadoop.fs.Path(dir, "_manifest.json.tmp")
      val out = fs.create(tmp, true)
      try out.write(expected.getBytes("UTF-8")) finally out.close()
      if (!fs.rename(tmp, path) && !fs.exists(path))
        throw new java.io.IOException(s"could not commit manifest at $path")
    }
  }
}
