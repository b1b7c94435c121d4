package graft.corpus

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.Dedup

/** Acquisition triage: classify a CANDIDATE batch against a shipped
  * release before deciding to ingest it — the report a data-acquisition
  * team reads ("of the 10M docs in this crawl, 4M are byte-dups of the
  * release, 2M near-dups, 4M novel"). [[ReleasePipeline.appendBatch]]
  * then ingests; this operator only judges.
  *
  * Verdict per candidate doc:
  *  - `exact` — the release contains a doc with identical NORMALIZED text
  *    ([[TextFns.fingerprint]], the exact-dedup key: lowercased,
  *    punctuation-stripped, whitespace-collapsed).
  *  - `near`  — not exact, but some release doc's n-gram Jaccard clears
  *    `threshold`.
  *  - `novel` — neither.
  *
  * `best_jaccard`: 1.0 for `exact` (by definition of normalized
  * equality — the RAW-shingle Jaccard of a punctuation-variant pair can
  * sit below 1), the max qualifying Jaccard for `near`, null for
  * `novel`.
  *
  * Two routes, one verdict contract:
  *  - [[classify]] — EXACT: fingerprint equi-join + AllPairs
  *    prefix-filtered cross Jaccard ([[Dedup.ngramJaccardBetweenPrefixFiltered]]).
  *    Complete at any threshold, SQL-oracle-checkable (q88), and still
  *    scale-shaped (the prefix filter is the 100 TB exact route).
  *  - [[classifyViaRegistry]] — SIGNATURE: judges against the release's
  *    retained MinHash registry ([[ReleasePipeline.PriorRelease]]
  *    .minhashSig) without touching the release text at all — the route
  *    for a release whose text you'd rather not re-scan per crawl.
  *    Near-miss recall is bounded by LSH banding; exact-dups are caught
  *    with certainty (identical signature ⇒ every band collides).
  */
object ReleaseDiff {

  /** Exact-route triage. One fingerprint shuffle + the prefix-filtered
    * cross-pair join; both sides scanned once.
    *
    * @return (doc_id, verdict, best_jaccard) — one row per candidate doc
    *         with non-null text.
    */
  def classify(candidates: DataFrame, release: DataFrame,
               textCol: String, idCol: String,
               n: Int = 3, threshold: Double = 0.5): DataFrame = {
    val cand = candidates.where(col(s"`$textCol`").isNotNull)
    val rel = release.where(col(s"`$textCol`").isNotNull)
    // Whitespace-only text normalizes to empty on both sides — no content
    // to match, so it can never be 'exact' (mirrors exactByFingerprint's
    // per-row key for empty docs).
    def fps(df: DataFrame) = df
      .where(length(trim(col(s"`$textCol`"))) > 0)
      .select(TextFns.fingerprint(col(s"`$textCol`")).as("__fp"),
        col(s"`$idCol`").as("__fid"))
    val exactIds = fps(cand)
      .join(fps(rel).select("__fp").distinct(), Seq("__fp"), "left_semi")
      .select(col("__fid").as("doc_id")).distinct()
    val nearBest = Dedup.ngramJaccardBetweenPrefixFiltered(
        cand, rel, textCol, idCol, n, threshold)
      .groupBy(col("id_left").as("doc_id"))
      .agg(max(col("jaccard")).as("__bj"))
    cand.select(col(s"`$idCol`").as("doc_id"))
      .join(exactIds.withColumn("__ex", lit(true)), Seq("doc_id"), "left")
      .join(nearBest, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__ex"), lit("exact"))
          .when(col("__bj").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("verdict"),
        when(col("__ex"), lit(1.0d)).otherwise(col("__bj")).as("best_jaccard"))
  }

  /** [[classify]] plus a τ-bounded EDIT-DISTANCE leg for SHORT strings
    * — typo-level duplicates (one character off in a title or name)
    * shred every n-gram shingle they touch, so shingle Jaccard misses
    * them entirely on short fields while a human calls them the same
    * string. Docs whose text is at most `editMaxLen` chars on both
    * sides run through the PassJoin blocking
    * ([[graft.operators.EditSimilarity.editDistancePairsBetween]]);
    * a candidate within `editTau` edits of any release doc upgrades
    * `novel` → `near`.
    *
    * The length bound is semantic, not just cost: edit distance τ means
    * "almost identical" for a 20-char title but nothing for a 20 kB
    * document (where Jaccard is the right lens) — and it also keeps the
    * probe fan-out (O(τ³) keys × string length) off the long tail.
    *
    * @return (doc_id, verdict, best_jaccard, best_edit_dist) —
    *         `best_edit_dist` is the min distance within `editTau` to
    *         any short release doc (null when none, or when the
    *         candidate exceeds `editMaxLen`), reported independently of
    *         which leg decided the verdict.
    */
  def classifyWithEdits(candidates: DataFrame, release: DataFrame,
                        textCol: String, idCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        editTau: Int = 2, editMaxLen: Int = 64): DataFrame = {
    val short = (df: DataFrame) => df.where(col(s"`$textCol`").isNotNull &&
      length(col(s"`$textCol`")) <= editMaxLen)
    val bestEdit = graft.operators.EditSimilarity
      .editDistancePairsBetween(short(candidates), short(release),
        textCol, idCol, editTau)
      .groupBy(col("id_left").as("doc_id"))
      .agg(min("edit_dist").as("best_edit_dist"))
    classify(candidates, release, textCol, idCol, n, threshold)
      .join(bestEdit, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("verdict") === "novel" && col("best_edit_dist").isNotNull,
            lit("near"))
          .otherwise(col("verdict")).as("verdict"),
        col("best_jaccard"), col("best_edit_dist"))
  }

  /** Signature-route triage against a retained registry `(id, sig)` —
    * same verdict contract, estimated Jaccard, banding-bounded recall
    * for `near` (an `exact` candidate produces the identical signature
    * and collides in every band, so exact detection keeps full recall).
    * The release text is never read; the only non-candidate input is
    * the registry frame.
    */
  def classifyViaRegistry(candidates: DataFrame, registry: DataFrame,
                          textCol: String, idCol: String,
                          shingleN: Int = 3, numHashes: Int = 64,
                          bands: Int = 16,
                          threshold: Double = 0.5): DataFrame = {
    val cand = candidates.where(col(s"`$textCol`").isNotNull)
    val sigCand = Dedup.minhashSignaturesGen(cand, idCol, textCol,
        shingleN, numHashes)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Frames.own(candidates.sparkSession, sigCand)
    val pairs = Dedup.minhashLshPairsBetween(cand, cand /* unused */,
        textCol, idCol, shingleN, numHashes, bands, threshold,
        precomputedSigLeft = Some(sigCand),
        precomputedSigRight = Some(registry))
    // est 1.0 means every signature slot agrees; with an identical-text
    // dup in the registry this is certain, so 'exact' here reads
    // "signature-identical" (a 64-slot agreement can in principle be a
    // collision — the exact route settles it when it matters).
    val best = pairs.groupBy(col("id_left").as("doc_id"))
      .agg(max(col("est_jaccard")).as("__bj"))
    cand.select(col(s"`$idCol`").as("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__bj") >= 1.0d, lit("exact"))
          .when(col("__bj").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("verdict"),
        col("__bj").as("best_jaccard"))
  }
}
