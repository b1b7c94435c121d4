package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Stages
import graft.functions.TextFns

/** BM25 full-text retrieval over a document corpus — the lexical
  * retrieval leg a training-data pipeline needs for
  * retrieval-based decontamination, targeted data selection, and
  * eval-set neighbor audits (the text twin of [[Similarity.knnJoin]]).
  *
  * Okapi BM25 with the Lucene idf form:
  *
  *   idf(t)    = ln(1 + (N - df + 0.5) / (df + 0.5))
  *   w(t, d)   = idf(t) * tf * (k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
  *   score(q,d)= Σ_{t ∈ distinct(q)} w(t, d)
  *
  * 100 TB shape: [[index]] is the inverted index as two columnar
  * frames — term frequencies (one explode + one (doc_id, term)
  * shuffle) and doc lengths (derived from that frame, never a second
  * text scan). Build it once, persist/write it, serve every query
  * batch against it. The query workload is broadcast-small by
  * assumption (a benchmark or query batch, not a second corpus):
  * document frequency aggregates only over terms some query mentions
  * (semi-filter BEFORE the df shuffle), scoring is a broadcast join
  * onto the tf frame, and no all-pairs path exists anywhere. Top-k
  * per query is a rank cut Spark rewrites to WindowGroupLimit
  * (partial per partition, no global sort). For a query side too
  * large to broadcast, the same frames ARE the inverted index —
  * score with a shuffled term join instead; only the join strategy
  * changes.
  */
object Bm25 {

  final case class Params(k1: Double = 1.2, b: Double = 0.75)

  /** The inverted index: `tf` = (doc_id, term, tf) over lowercased
    * whitespace tokens; `dl` = (doc_id, dl) doc lengths. Blank/null
    * docs drop (no terms → never retrievable). Both frames are
    * write-able columnar artifacts — at corpus scale, persist them
    * (or save as bucketed-by-term parquet) and reuse across query
    * batches instead of re-deriving from text.
    */
  final case class Index(tf: DataFrame, dl: DataFrame)

  def index(docs: DataFrame, idCol: String, textCol: String): Index = {
    val tf = docs.where(col(s"`$textCol`").isNotNull)
      .select(col(s"`$idCol`").cast("long").as("doc_id"),
        explode(TextFns.tokens(lower(col(s"`$textCol`")))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))
    Index(tf, tf.groupBy("doc_id").agg(sum("tf").as("dl")))
  }

  /** Top-k BM25 hits per query against a prebuilt index:
    * (query_id, doc_id, score, rank), rank 1-based by (score desc,
    * doc_id asc). `queries` is (query_id, query text), broadcast-small
    * (see object doc). Scores round to 6 decimals BEFORE ranking so
    * the ordering is reproducible across platforms' floating-point
    * summation.
    */
  def topK(ix: Index, queries: DataFrame, queryIdCol: String,
           queryTextCol: String, k: Int, params: Params = Params(),
           corpusStats: Option[(Long, Double)] = None): DataFrame = {
    require(k > 0, "k must be positive")
    // N and avgdl: one metadata-sized aggregate as a bounded scalar
    // read (the centroid idiom) — re-entering as literals keeps the
    // scoring plan pure equi-join (no 1-row crossJoin broadcast).
    // Callers holding precomputed stats (DiskIndex compaction
    // artifacts) pass them via `corpusStats` and skip the aggregate.
    // Empty corpus: the tf joins below produce no rows regardless, so
    // any avgdl placeholder is unreachable.
    val (nDocs, avgdl) = corpusStats.getOrElse {
      val statsRow = ix.dl.agg(count(lit(1)).as("n"), avg("dl").as("avgdl")).head()
      (statsRow.getLong(0),
        if (statsRow.isNullAt(1)) 1.0 else statsRow.getDouble(1))
    }
    val qTerms = queries
      .where(col(s"`$queryTextCol`").isNotNull)
      .select(col(s"`$queryIdCol`").cast("long").as("query_id"),
        explode(array_distinct(
          TextFns.tokens(lower(col(s"`$queryTextCol`"))))).as("term"))
    // df only for terms some query mentions: semi-join BEFORE the df
    // aggregation so the shuffle carries query-vocabulary terms, not
    // the corpus vocabulary
    val df = ix.tf.join(broadcast(qTerms.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    val idf = df.select(col("term"),
      log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))).as("idf"))
    val scored = ix.tf
      .join(broadcast(qTerms.join(broadcast(idf), "term")), "term")
      .join(ix.dl, "doc_id")
      .select(col("query_id"), col("doc_id"),
        (col("idf") * col("tf") * lit(params.k1 + 1.0) /
          (col("tf") + lit(params.k1) *
            (lit(1.0 - params.b) + lit(params.b) * col("dl") / lit(avgdl))))
          .as("w"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("w"), 6).as("score"))
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank") <= k)
  }

  /** [[topK]] with MAX-SCORE term pruning (the WAND family) — exactly
    * the same results, fewer postings rows through the scoring
    * pipeline. The classic top-k shortcut: a term's contribution is
    * bounded by `UB(t) = idf(t) * (k1 + 1)` (the tf saturation limit),
    * so once a score threshold θ is known, terms whose UB-descending
    * suffix sum falls below θ are NON-ESSENTIAL — a document matching
    * only non-essential terms cannot reach the top k and is never
    * scored at all.
    *
    *  1. θ seed: the k-th best SINGLE-TERM score over the top-UB term's
    *     postings (each single-term score lower-bounds that doc's full
    *     score, so ≥ k docs truly score ≥ θ). The top-UB term is the
    *     highest-idf = rarest = cheapest postings list.
    *  2. Split each query's terms at the suffix-UB boundary (window
    *     over the query's term list — never a driver loop).
    *  3. Essential postings join in full; non-essential postings join
    *     only against docs already matched by an essential term
    *     (candidate semi-join). Union, then the SAME dl join, scoring
    *     formula, rounding, and rank cut as [[topK]].
    *
    * Exactness under the 6-dp rounding: pruning requires
    * `suffix_ub < θ − 2·10⁻⁶`, so a pruned doc's rounded score is
    * strictly below the rounded scores of the ≥ k seed docs — it can
    * never displace one (ties break inside EQUAL rounded scores only).
    * Queries with fewer than k seed postings take θ = −∞ (no pruning,
    * still exact).
    *
    * At 100 TB the win is twofold: non-essential postings drop out of
    * the doc-length join + (query, doc) aggregation, and with postings
    * stored term-bucketed (the [[DiskIndex]] layout note) the pruned
    * term set prunes file scans outright. At any scale the plan stays
    * pure equi-join + WindowGroupLimit — no driver-side iteration.
    */
  def topKMaxScore(ix: Index, queries: DataFrame, queryIdCol: String,
                   queryTextCol: String, k: Int, params: Params = Params(),
                   corpusStats: Option[(Long, Double)] = None): DataFrame =
    topKMaxScoreCore((_, terms) => ix.tf.join(broadcast(terms), "term"),
      terms => ix.tf.join(broadcast(terms), "term")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .withColumn("max_tf", lit(null).cast("long"))
        .withColumn("min_dl", lit(null).cast("long")),
      ix.dl, queries, queryIdCol, queryTextCol, k, params, corpusStats)

  /** [[topKMaxScore]]'s engine, parameterized over HOW postings for a
    * (query-cardinality, broadcast-small) term frame are fetched and
    * over WHERE per-term statistics come from.
    *
    * `postings(stage, terms)` must return the tf rows of exactly the
    * terms in `terms`, joined with that frame on `term` (so the result
    * carries `terms`' columns); `stage` ∈ {"seed", "ess", "non"} (and
    * "df" on the fallback stats path) labels fetches for
    * instrumentation — semantics must not depend on it.
    *
    * `termStatsFor(distinctTerms)` must return exactly one row per
    * term that has at least one posting: (term, df, max_tf, min_dl).
    * df must be EXACT (it feeds idf, hence scores). max_tf/min_dl are
    * OPTIONAL impact extremes over the term's postings (null → the
    * tf-saturation limit is used): the BM25 weight's tf–dl factor is
    * increasing in tf and decreasing in dl (for k1 ≥ 0, 0 ≤ b ≤ 1), so
    * `part(t) = part(max_tf, min_dl)` caps every posting's factor and
    * `UB(t) = idf(t)·part(t)` is a TIGHTER-but-still-valid term bound
    * than the saturation limit `idf·(k1+1)` — tighter bounds push more
    * terms non-essential, which on a bucketed store means fewer files
    * scanned. [[DiskIndex]] materializes the extremes as a compaction
    * artifact, turning this whole stage into a metadata lookup — no
    * postings are read to compute the split at all.
    *
    * The inline [[Index]] route joins the whole tf frame and derives
    * df by aggregation (null extremes); [[DiskIndex.topKMaxScore]]
    * plugs in bucket-pruned scans and the artifact — the max-score
    * term split then MULTIPLIES with the term-bucketed file pruning:
    * the θ seed reads only the rarest terms' buckets, essential
    * postings only the essential terms' buckets, and the non-essential
    * probe only its own.
    */
  private[graft] def topKMaxScoreCore(
      postings: (String, DataFrame) => DataFrame,
      termStatsFor: DataFrame => DataFrame, dlFrame: DataFrame,
      queries: DataFrame, queryIdCol: String, queryTextCol: String,
      k: Int, params: Params,
      corpusStats: Option[(Long, Double)]): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val (nDocs, avgdl) = corpusStats.getOrElse {
      val r = dlFrame.agg(count(lit(1)).as("n"), avg("dl").as("avgdl")).head()
      (r.getLong(0), if (r.isNullAt(1)) 1.0 else r.getDouble(1))
    }
    val qTerms = queries
      .where(col(s"`$queryTextCol`").isNotNull)
      .select(col(s"`$queryIdCol`").cast("long").as("query_id"),
        explode(array_distinct(
          TextFns.tokens(lower(col(s"`$queryTextCol`"))))).as("term"))
    val stats = termStatsFor(qTerms.select("term").distinct())
    // the monotonicity argument for the tight cap needs k1 ≥ 0 and
    // b ∈ [0, 1]; exotic params keep the always-valid saturation limit
    val canTighten = params.k1 >= 0.0 && params.b >= 0.0 && params.b <= 1.0
    val partExpr =
      if (!canTighten) lit(params.k1 + 1.0)
      else when(col("max_tf").isNotNull && col("min_dl").isNotNull,
        col("max_tf") * lit(params.k1 + 1.0) /
          (col("max_tf") + lit(params.k1) * (lit(1.0 - params.b) +
            lit(params.b) * col("min_dl") / lit(avgdl))))
        .otherwise(lit(params.k1 + 1.0))
    val idf = stats.select(col("term"),
      log(lit(1.0) + (lit(nDocs) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))).as("idf"),
      partExpr.as("__part"),
      // min_dl rides along for the θ-floor inversion below (null when
      // the stats path has no impact extremes — the floor then uses the
      // dl→0 limit, weaker but still valid)
      col("min_dl").cast("double").as("__mdl"))
    // per-query term table with UB and its suffix sum in UB-desc order.
    // Query-cardinality frames (ranked, split) materialize EAGERLY:
    // each is consumed by several broadcast builds below, and without
    // the checkpoint every broadcast would re-run the corpus-sized df
    // aggregation (and the θ seed pass) that feeds them.
    val wOrd = Window.partitionBy("query_id")
      .orderBy(col("__ub").desc, col("term"))
    val ranked = qTerms.join(broadcast(idf), "term")
      .withColumn("__ub", col("idf") * col("__part"))
      .withColumn("__rnk", row_number().over(wOrd))
      .withColumn("__sfx", sum("__ub").over(
        wOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .transform(Stages.cut)
    def wExpr = col("idf") * col("tf") * lit(params.k1 + 1.0) /
      (col("tf") + lit(params.k1) *
        (lit(1.0 - params.b) + lit(params.b) * col("dl") / lit(avgdl)))
    // θ: k-th best single-term score over the rarest term's postings
    val seed = postings("seed",
        ranked.where(col("__rnk") === 1).select("query_id", "term", "idf"))
      .join(dlFrame, "doc_id")
      .select(col("query_id"), col("doc_id"), wExpr.as("__w"))
    val theta = seed
      .withColumn("__r", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("__w").desc, col("doc_id"))))
      .where(col("__r") === k)
      .select(col("query_id"), col("__w").as("__theta"))
    // θ-TF-FLOOR candidate pruning (the row-group lever the tf-desc
    // compaction clustering was built for): a doc can only reach the
    // top k if SOME essential posting row of it satisfies
    // `w(tf, dl) + suffix-UB-of-all-LATER-terms >= θ − 2e-6` — if every
    // row fails it, the doc's full score is < θ − 2e-6 (its
    // highest-ranked match's actual w plus every later term's UB bounds
    // the sum) and ≥ k seed docs beat it even after 6-dp rounding, the
    // same margin argument as the essential split. The row condition is
    // increasing in tf and maximal at dl = min_dl (w decreases in dl for
    // b ∈ [0, 1]), so inverting the weight at min_dl yields a PER-TERM
    // INTEGER TF FLOOR: with T = θ − 2e-6 − sfx_after and
    // D = k1·(1−b+b·min_dl/avgdl),  w(tf, min_dl) ≥ T  ⟺
    // tf ≥ T·D / (idf·(k1+1) − T). NOTE the naive `w(tf, min_dl) ≥ θ`
    // floor (no sfx_after) would be WRONG: a doc below it on every term
    // can still sum past θ across terms. min_dl null (no impact
    // artifact) degrades to the dl→0 limit D = k1·(1−b) — weaker floor,
    // still safe. Exotic params (k1 < 0 or b ∉ [0,1]) void the
    // monotonicity argument → floor 0 (no pruning), like the UB cap.
    //
    // A "dead-term" extension — dropping an essential term from the
    // cand FETCH outright when floor_t > max_tf_t, so its buckets never
    // scan — was investigated (r17) and is PROVABLY VACUOUS: with the
    // impact artifact present, UB_t IS w(max_tf, min_dl) — the very
    // function the floor inverts at the very dl it inverts at — so
    // essential ⟺ UB_t ≥ T ⟺ w(max_tf, min_dl) ≥ T ⟺ max_tf ≥ floor_t.
    // An essential term can never be dead. Without the artifact the UB
    // saturates to idf·(k1+1) and dead essentials CAN exist, but
    // max_tf is exactly what that path does not know. Either way there
    // is no bucket to skip; the tf-floor row-group pruning above is the
    // whole win.
    val sfxAfter = col("__sfx") - col("__ub")
    val tTarget = col("__theta") - lit(2e-6) - sfxAfter
    val dShift = lit(params.k1) * (lit(1.0 - params.b) +
      lit(params.b) * coalesce(col("__mdl"), lit(0.0)) / lit(avgdl))
    val fDenom = col("idf") * lit(params.k1 + 1.0) - tTarget
    val floorExpr =
      if (!canTighten) lit(0L)
      else when(col("__theta").isNull || tTarget <= 0 || fDenom <= 0, lit(0L))
        .otherwise(ceil(tTarget * dShift / fDenom).cast("long"))
    val split = ranked.join(broadcast(theta), Seq("query_id"), "left")
      .withColumn("__ess",
        col("__theta").isNull || col("__sfx") >= col("__theta") - lit(2e-6))
      .withColumn("__floor", floorExpr)
      .select("query_id", "term", "idf", "__ess", "__floor")
      .transform(Stages.cut)
    val ess = split.where(col("__ess")).select("query_id", "term", "idf")
    val non = split.where(!col("__ess")).select("query_id", "term", "idf")
    // Adaptive: every posting has tf ≥ 1, so floors ≤ 1 prune nothing,
    // and the candidate set only feeds the NON-ESSENTIAL probe — with
    // no non-essential term there is nothing to prune either way. Keep
    // the floor-free plan (no extra scan) unless both a biting floor
    // and a non-essential term exist. The biting-floor test looks at
    // ESSENTIAL rows only — the cand scan is built from them, so a
    // floor that bites only on a non-essential term would trigger the
    // extra scan while pruning nothing. One bounded driver read: split
    // is query-cardinality and already checkpointed.
    val mfRow = split.agg(max(when(col("__ess"), col("__floor"))),
      sum(when(!col("__ess"), 1L).otherwise(0L))).head()
    val useFloor = !mfRow.isNullAt(0) && mfRow.getLong(0) > 1L &&
      !mfRow.isNullAt(1) && mfRow.getLong(1) > 0L
    val essRows = postings("ess", ess)
      .select("query_id", "doc_id", "idf", "tf")
    // The candidate set the NON-ESSENTIAL probe joins against. With a
    // biting floor it comes from the floor-filtered "cand" scan (the
    // scan pushes `term = t AND tf >= floor_t` down to parquet, where
    // the tf-desc clustering turns it into row-group skips; the
    // scan-level floor is the MIN over queries sharing a term, the
    // exact per-(query, term) floor applies post-join) — REPLACING the
    // full essRows distinct, so the floored path shuffles fewer rows
    // here, not more. Essential rows still score every matched doc:
    // a doc OUTSIDE the floored candidate set has true score
    // < θ − 2e-6 (the floor derivation), so its computed score —
    // possibly missing non-essential mass — is also < θ − 2e-6 and the
    // ≥ k seed docs (all INSIDE the set, with full exact scores) rank
    // strictly above it after rounding: it can never surface in the
    // top k, understated score or not. Every emitted row's score is
    // exact.
    val cand =
      if (!useFloor) essRows.select("query_id", "doc_id").distinct()
      else postings("cand",
          split.where(col("__ess"))
            .select("query_id", "term", "idf", "__floor"))
        .where(col("tf") >= col("__floor"))
        .select("query_id", "doc_id").distinct()
    val nonRows = postings("non", non)
      .select("query_id", "doc_id", "idf", "tf")
      .join(cand, Seq("query_id", "doc_id"), "left_semi")
    val scored = essRows.unionByName(nonRows)
      .join(dlFrame, "doc_id")
      .select(col("query_id"), col("doc_id"), wExpr.as("w"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("w"), 6).as("score"))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank") <= k)
  }

  /** Convenience: build the index inline and query it. The tf frame is
    * consumed three times inside [[topK]] (doc lengths, df, scoring),
    * so it persists, owned by the current build ([[graft.core.Frames]])
    * — without this the tokenize + (doc, term) shuffle would run three
    * times per query batch. Prefer [[index]] +
    * [[topK]] with a caller-persisted index when serving more than one
    * query batch.
    */
  def topK(docs: DataFrame, queries: DataFrame, idCol: String,
           textCol: String, queryIdCol: String, queryTextCol: String,
           k: Int): DataFrame = {
    val ix = index(docs, idCol, textCol)
    val tf = ix.tf.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = topK(Index(tf, tf.groupBy("doc_id").agg(sum("tf").as("dl"))),
      queries, queryIdCol, queryTextCol, k)
    graft.core.Frames.own(docs.sparkSession, tf)
    out
  }

  /** Retrieval-quality EVALUATION over a run table — the feedback loop
    * that closes the retrieval family (tune BM25/ANN parameters against
    * judged relevance, audit an index rebuild, regression-gate a
    * ranking change):
    *
    *  - `runs`: (query_id, doc_id, rank) — [[topK]]'s output shape.
    *  - `qrels`: (query_id, doc_id, rel) graded relevance judgments;
    *    rel <= 0 rows count as not-relevant judgments.
    *
    * Per query (only queries present in `runs`):
    * (query_id, n_rel, mrr, ndcg) — n_rel = positive judgments for the
    * query; MRR = 1/rank of the first relevant hit within the top `k`
    * (0 when none); nDCG@k with exponential gain (2^rel − 1) and
    * log2(rank+1) discounting, ideal from the query's top-k judgments
    * by rel (0 when the query has no positive judgment). Both rounded
    * 6 dp.
    *
    * Shape: one (query, doc) equi-join of two rank-bounded frames plus
    * two query-keyed aggregations — runs are |queries|·k rows and qrels
    * are judgment-sized, so nothing here scales with the corpus.
    */
  def evaluateRuns(runs: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val log2 = (c: org.apache.spark.sql.Column) => log(2.0, c)
    val r = runs.select(col("query_id"), col("doc_id"), col("rank"))
      .where(col("rank") <= k)
    val q = qrels.select(col("query_id"), col("doc_id"), col("rel"))
      .where(col("rel") > 0)
    val perQuery = r.join(q, Seq("query_id", "doc_id"), "left")
      .groupBy("query_id")
      .agg(
        sum(coalesce(
          (pow(lit(2.0), col("rel")) - 1.0) / log2(col("rank") + 1.0),
          lit(0.0))).as("__dcg"),
        max(when(col("rel") > 0, lit(1.0) / col("rank"))).as("__mrr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("rel").desc, col("doc_id"))
    val ideal = q.withColumn("__rn", row_number().over(w))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_rel"),
        sum(when(col("__rn") <= k,
          (pow(lit(2.0), col("rel")) - 1.0) / log2(col("__rn") + 1.0))
          .otherwise(lit(0.0))).as("__idcg"))
    perQuery.join(ideal, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        round(coalesce(col("__mrr"), lit(0.0)), 6).as("mrr"),
        round(when(coalesce(col("__idcg"), lit(0.0)) > 0.0,
          col("__dcg") / col("__idcg")).otherwise(lit(0.0)), 6).as("ndcg"))
  }

  /** PERSISTENT inverted index: the tf frame on disk as batch-appended
    * parquet ([[graft.load.IdempotentParquetSink]] — exactly-once per
    * batch id), the durable form of the object doc's "build once,
    * persist, serve every query batch". The streaming dedup indexes
    * ([[graft.streaming.StreamingDedup.LshIndex]] and its vector and
    * paragraph twins) persist through the same sink.
    *
    * Doc lengths and corpus stats derive from the stored tf at read
    * (one aggregation over the index, never a second text scan), so an
    * append costs only the new batch's tokenize + (doc, term) shuffle,
    * while df/idf at query time always reflect the WHOLE index — a doc
    * indexed months ago reweights automatically as the corpus grows.
    * Wire a stream as `foreachBatch((b, id) => ix.append(b, idCol,
    * textCol, id))`; re-delivered batch ids skip (the
    * StreamingReleaseAppend convention), making ingest restart-safe.
    * Batches must carry docs NOT already indexed (re-ingesting an id
    * double-counts it — the dedup family runs upstream of indexing).
    */
  final class DiskIndex(val root: String, val termBuckets: Int = 0)
      extends Serializable {
    require(termBuckets >= 0, s"termBuckets must be >= 0, got $termBuckets")

    /** With `termBuckets > 0` the postings store is PARTITIONED by a
      * term-hash bucket (`bucket = pmod(xxhash64(term), termBuckets)`),
      * in every batch dir and every compaction dir — the
      * trillion-posting layout: a query batch touches only its terms'
      * buckets, so the scoring scan prunes `(termBuckets - |query
      * buckets|) / termBuckets` of the index FILES outright (doc
      * lengths and corpus stats come from the compaction artifacts /
      * full frame, which never needed term locality). Size it so one
      * bucket ≈ a few files; 0 keeps the flat layout.
      *
      * Compactions additionally CLUSTER the postings physically: term-
      * ascending, tf-descending within term, inside each bucket (range-
      * clustered by term for the flat layout). Term clustering is what
      * makes the query-vocabulary pushdown (see [[scoringTf]]) skip at
      * ROW-GROUP granularity — inside a surviving bucket file, parquet
      * term min/max stats rule out every row group holding only other
      * terms' postings. The tf-descending secondary order packs a
      * term's highest-impact postings (the BM25 weight is increasing in
      * tf) into its leading row groups — compression-friendly now, and
      * the layout a future θ-threshold pushdown would need. Order is
      * LAYOUT ONLY: readers never assume it (pre-compaction batch dirs
      * are unclustered).
      */
    val store = new graft.load.IdempotentParquetSink(s"$root/tf",
      if (termBuckets > 0) Seq("bucket") else Nil,
      compactLayout = if (termBuckets > 0)
        df => df.repartition(col("bucket"))
          .sortWithinPartitions(col("bucket"), col("term"), col("tf").desc)
      else
        df => df.repartitionByRange(col("term"))
          .sortWithinPartitions(col("term"), col("tf").desc))

    private def bucketOf(term: org.apache.spark.sql.Column) =
      pmod(xxhash64(term), lit(termBuckets.toLong))

    /** Index one batch. @return false if `batchId` already committed. */
    def append(docs: DataFrame, idCol: String, textCol: String,
               batchId: Long): Boolean = {
      val tf = index(docs, idCol, textCol).tf
      val out = if (termBuckets > 0)
        tf.withColumn("bucket", bucketOf(col("term"))) else tf
      store.append(out, batchId)
    }

    /** Merge the per-batch postings into one directory (offline
      * maintenance — a long-lived streaming index otherwise pays one
      * listing per micro-batch ever appended), physically CLUSTERED
      * term-ascending / tf-descending inside each bucket (the
      * `compactLayout` hook — see the [[store]] doc: that order is what
      * lets the query-vocabulary IN pushdown skip row groups), AND
      * materialize the query-time artifacts over the compacted
      * generation:
      *
      *  - `dl/upto=<w>`  — (doc_id, dl) doc lengths
      *  - `stats/upto=<w>` — one row (n_docs, sum_dl)
      *  - `tstats/upto=<w>` — per term (df, max_tf, min_dl): the IMPACT
      *    artifact (bucket-partitioned when the store is), which lets
      *    [[topKMaxScore]] compute df/idf and a tight per-term impact
      *    cap from metadata alone
      *
      * so serving never re-aggregates doc lengths from the FULL tf
      * frame again: a query batch reads the artifact and derives only
      * the post-compaction tail's contribution (batches appended since
      * `w`). Crash-safe by the sink's own ordering idiom: the
      * `_aux/<w>` marker is created only after all the artifacts are
      * written, and readers use artifacts only when the marker matches
      * the CURRENT watermark — a compact() that died mid-artifact
      * degrades to the derive-from-tf path, never to wrong results.
      * Queries are invariant; re-delivered old batch ids keep skipping.
      */
    def compact(spark: org.apache.spark.sql.SparkSession): Boolean = {
      // force: even a single-batch store compacts — the POINT here is
      // materializing the dl/stats artifacts keyed to the watermark,
      // not just directory merging (a no-op store.compact would
      // silently skip them, and the first compact after one streaming
      // micro-batch is exactly that case)
      val did = store.compact(spark, force = true)
      // an all-empty-batch store compacts to no data dir (schemaless
      // read): skip the artifacts — without an _aux marker readers use
      // the derive-from-tf path, which is trivially right when empty
      if (did && store.read(spark).columns.nonEmpty) {
        val w = store.compactionWatermark(spark).get
        val full = store.read(spark).select("doc_id", "term", "tf")
        val dl = full.groupBy("doc_id").agg(sum("tf").as("dl"))
        dl.write.mode("overwrite").parquet(dlDir(w))
        spark.read.parquet(dlDir(w))
          .agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
          .coalesce(1).write.mode("overwrite").parquet(statsDir(w))
        // per-term IMPACT artifact: (term, df, max_tf, min_dl) — df for
        // a metadata-only idf (the max-score split no longer scans any
        // postings), the extremes for the tight per-term impact cap
        // (params-independent: the cap is evaluated at query time with
        // the CURRENT k1/b/avgdl). Bucket-partitioned like the postings
        // so a query batch file-prunes the lookup too.
        val tst0 = full.join(spark.read.parquet(dlDir(w)), "doc_id")
          .groupBy("term")
          .agg(count(lit(1)).as("df"), max("tf").as("max_tf"),
            min("dl").as("min_dl"))
        val tst = if (termBuckets > 0)
          tst0.withColumn("bucket", bucketOf(col("term"))) else tst0
        val tw = tst.write.mode("overwrite")
        (if (termBuckets > 0) tw.partitionBy("bucket") else tw)
          .parquet(tstatsDir(w))
        val fs = new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_aux"))
        fs.create(new org.apache.hadoop.fs.Path(s"$root/_aux/$w"), true).close()
        // reclaim superseded artifact generations (the sink's sweep idiom)
        for (dir <- Seq(s"$root/dl", s"$root/stats", s"$root/tstats")) {
          val p = new org.apache.hadoop.fs.Path(dir)
          if (fs.exists(p)) fs.listStatus(p).foreach { st =>
            // foreign entries (non-`upto=N` names) are never touched
            scala.util.Try(st.getPath.getName.stripPrefix("upto=").toLong)
              .toOption.filter(_ < w)
              .foreach(_ => fs.delete(st.getPath, true))
          }
        }
      }
      did
    }

    private def dlDir(w: Long) = s"$root/dl/upto=$w"
    private def statsDir(w: Long) = s"$root/stats/upto=$w"
    private def tstatsDir(w: Long) = s"$root/tstats/upto=$w"

    /** The compaction generation whose artifacts are complete and
      * CURRENT (marker exists for the store's present watermark).
      */
    private def auxGeneration(
        spark: org.apache.spark.sql.SparkSession): Option[Long] =
      store.compactionWatermark(spark).filter { w =>
        new org.apache.hadoop.fs.Path(root)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
          .exists(new org.apache.hadoop.fs.Path(s"$root/_aux/$w"))
      }

    private def emptyTf(spark: org.apache.spark.sql.SparkSession): DataFrame =
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("term",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("tf",
            org.apache.spark.sql.types.LongType))))

    /** Post-watermark postings only (empty-schema frames normalized). */
    private def tailTf(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      val raw = store.readTail(spark)
      if (raw.columns.isEmpty) emptyTf(spark)
      else raw.select("doc_id", "term", "tf")
    }

    /** The current index over all committed batches. With compaction
      * artifacts present, dl = stored artifact ∪ tail-derived lengths
      * (tail = batches appended since the compaction; batches carry
      * previously-unindexed docs per the class contract, so the union
      * is disjoint by doc) — the full-tf dl aggregation only runs when
      * no artifact generation is current.
      */
    def read(spark: org.apache.spark.sql.SparkSession): Index = {
      val raw = store.read(spark)
      val tf =
        if (raw.columns.isEmpty) emptyTf(spark) // no committed batch yet
        else raw.select("doc_id", "term", "tf")
      val dl = auxGeneration(spark) match {
        case Some(w) =>
          spark.read.parquet(dlDir(w)).select("doc_id", "dl").unionByName(
            tailTf(spark).groupBy("doc_id").agg(sum("tf").as("dl")))
        case None => tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      }
      Index(tf, dl)
    }

    /** Corpus stats (N, avgdl) without touching the full tf frame when
      * artifacts are current: stored (n_docs, sum_dl) merged with the
      * tail's — both combines are sums, so the merge is exact.
      */
    private def corpusStats(
        spark: org.apache.spark.sql.SparkSession): Option[(Long, Double)] =
      auxGeneration(spark).map { w =>
        val base = spark.read.parquet(statsDir(w)).head()
        val (n0, s0) = (base.getLong(0),
          if (base.isNullAt(1)) 0L else base.getLong(1))
        val tail = tailTf(spark).groupBy("doc_id").agg(sum("tf").as("dl"))
          .agg(count(lit(1)).as("n"), sum("dl").as("s")).head()
        val (n1, s1) = (tail.getLong(0),
          if (tail.isNullAt(1)) 0L else tail.getLong(1))
        val n = n0 + n1
        (n, if (n == 0) 1.0 else (s0 + s1).toDouble / n)
      }

    /** Pushdown cap: a term IN-list only goes into the scan when the
      * stage vocabulary is at most this many terms — beyond it the
      * parquet-side evaluation cost outgrows the skip win, and the
      * query batch has left "broadcast-small" territory anyway.
      */
    private val MaxTermPushdown = 1024

    /** A stage vocabulary for scan pruning: the distinct bucket ids
      * (always — bounded by `termBuckets`) and, ONLY when the stage has
      * at most [[MaxTermPushdown]] distinct terms, the (term, bucket,
      * min-tf-floor) triples for the IN / floor pushdown. Beyond the cap
      * the term list is useless (the IN filter would be discarded), so
      * the driver collects only the bucket ids — never an
      * unbounded-by-cap term list.
      */
    private case class Vocab(pairs: Option[Array[(String, Long, Long)]],
                             buckets: Array[Long]) {
      def isEmpty: Boolean = buckets.isEmpty
    }

    /** One bounded driver read per stage (two when the vocabulary
      * overflows the pushdown cap): a `LIMIT cap+1` probe of the
      * distinct (term, bucket, floor) rows — within the cap those rows
      * ARE the vocabulary; past it, a second collect of just the
      * distinct bucket ids (at most `termBuckets` longs). `termFrame`
      * must carry a `term` column; a `__floor` column (per-query tf
      * floors) aggregates to the per-term MIN — the only scan-safe
      * floor when queries share a term.
      */
    private def termVocab(termFrame: DataFrame): Vocab = {
      val base =
        if (termFrame.columns.contains("__floor"))
          termFrame.groupBy("term")
            .agg(min(col("__floor")).as("f"))
            .select(col("term"), bucketOf(col("term")).as("b"), col("f"))
        else
          termFrame.select(col("term"), bucketOf(col("term")).as("b"),
            lit(0L).as("f")).distinct()
      val probe = base.limit(MaxTermPushdown + 1).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      if (probe.length <= MaxTermPushdown)
        Vocab(Some(probe), probe.map(_._2).distinct)
      else
        Vocab(None, base.select("b").distinct().collect().map(_.getLong(0)))
    }

    /** The two-level pruned scan for a stage vocabulary: the bucket set
      * as a partition-column filter (FILE pruning) plus — when the
      * vocabulary is small enough — the terms themselves as an IN
      * predicate the parquet reader pushes down (ROW-GROUP pruning via
      * term min/max stats, which the compaction layout makes selective:
      * postings are term-clustered inside each bucket file). When the
      * vocabulary carries tf floors > 1 (the max-score candidate
      * stage), the pushed predicate becomes the OR-of-ANDs
      * `(term = t AND tf >= floor_t) OR ...` — the tf-DESC secondary
      * clustering then skips each term's low-impact tail row groups
      * too. Every pushed predicate is a superset of the downstream
      * term equi-join + per-query floor filter, so results are
      * identical with or without it.
      */
    private def prunedScan(raw: DataFrame, vocab: Vocab,
                           spark: org.apache.spark.sql.SparkSession): DataFrame = {
      if (raw.columns.isEmpty || vocab.isEmpty) emptyTf(spark)
      else {
        val base = raw.where(col("bucket").isin(vocab.buckets: _*))
        val scan = vocab.pairs match {
          case Some(pairs) if pairs.exists(_._3 > 1L) =>
            base.where(pairs.map { case (t, _, f) =>
              if (f > 1L) col("term") === t && col("tf") >= lit(f)
              else col("term") === t
            }.reduce(_ || _))
          case Some(pairs) =>
            base.where(col("term").isin(pairs.map(_._1): _*))
          case None => base
        }
        scan.select("doc_id", "term", "tf")
      }
    }

    /** The postings frame a QUERY batch needs: with term bucketing,
      * only the buckets the query vocabulary hashes into (the bucket
      * list is a bounded driver scalar — at most `termBuckets` longs,
      * and the query batch is broadcast-small by the class contract),
      * expressed as a partition-column filter the parquet scan prunes
      * files with, plus the term IN pushdown for row-group pruning
      * inside surviving files (see [[prunedScan]]). Unbucketed → the
      * whole store.
      */
    private[graft] def scoringTf(spark: org.apache.spark.sql.SparkSession,
                          queries: DataFrame, queryTextCol: String): DataFrame = {
      val raw = store.read(spark)
      if (raw.columns.isEmpty) emptyTf(spark)
      else if (termBuckets == 0) raw.select("doc_id", "term", "tf")
      else prunedScan(raw, termVocab(queries
          .where(col(s"`$queryTextCol`").isNotNull)
          .select(explode(array_distinct(
            TextFns.tokens(lower(col(s"`$queryTextCol`"))))).as("term"))),
        spark)
    }

    /** Query the stored index (tf cached for the call's consumers,
      * owned by the current build). Against a compacted
      * index, doc lengths come from the `dl` artifact and N/avgdl from
      * the `stats` artifact (+ tail merge) — no full-tf re-aggregation
      * on the serving path; with term bucketing the scoring scan also
      * file-prunes to the query vocabulary's buckets.
      */
    def topK(spark: org.apache.spark.sql.SparkSession, queries: DataFrame,
             queryIdCol: String, queryTextCol: String, k: Int,
             params: Params = Params()): DataFrame = {
      val stats = corpusStats(spark)
      val ix = read(spark)
      val tf = (if (termBuckets > 0) scoringTf(spark, queries, queryTextCol)
                else ix.tf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dl = if (stats.isDefined) ix.dl
        else ix.tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val out = Bm25.topK(Index(tf, dl),
        queries, queryIdCol, queryTextCol, k, params, corpusStats = stats)
      graft.core.Frames.own(spark, tf)
      out
    }

    /** The streaming ingest + maintenance closure in one piece: wire as
      * `stream.writeStream.foreachBatch(ix.streamingWriter("id", "text",
      * compactEvery = 64))`. Appends each micro-batch exactly once
      * (re-delivered ids skip), and runs [[compact]] — artifacts
      * included — after every `compactEvery`-th batch id, so a
      * long-lived index never accumulates unbounded per-batch dirs and
      * serving always has a recent dl/stats generation. Keyed to the
      * batch id, not a call counter, so restarts don't drift the
      * schedule. `compactEvery = 0` disables maintenance (append-only).
      *
      * Safe with in-flight queries by the marker ordering contract: the
      * compaction data dir is invisible until the store's `_compacted`
      * marker lands, and the dl/stats artifacts are used only once the
      * `_aux` marker matches the CURRENT watermark — a reader racing any
      * crash window sees either the old generation or the
      * derive-from-tf path, never wrong results.
      */
    def streamingWriter(idCol: String, textCol: String,
                        compactEvery: Int = 0): (DataFrame, Long) => Unit = {
      require(compactEvery >= 0, s"compactEvery must be >= 0: $compactEvery")
      (batch, batchId) => {
        append(batch, idCol, textCol, batchId)
        if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
          compact(batch.sparkSession); ()
        }
      }
    }

    /** Plan-build instrumentation: the partition-filter bucket set each
      * max-score stage's scan was pruned to in the LAST
      * [[topKMaxScore]] call (stage → buckets). Driver-side only; lets
      * a spec pin that the essential scan's file filter genuinely
      * shrank below the query vocabulary's bucket set. Each call
      * assembles its own LOCAL map and publishes it whole on return, so
      * concurrent query builds on a shared index can never interleave
      * partial stage entries — the field always holds one complete
      * call's snapshot (last publisher wins).
      */
    @transient @volatile private[graft] var lastStageBuckets:
        Map[String, Set[Long]] = Map.empty

    /** [[Bm25.topKMaxScore]] over the STORED index — the two pruning
      * levers composed, multiplying at scale:
      *
      *  - max-score splits the query vocabulary into essential /
      *    non-essential terms (postings-row pruning);
      *  - term bucketing turns each stage's term set into a partition-
      *    column filter (FILE pruning).
      *
      * So the θ seed pass reads only the rarest terms' buckets, the
      * essential scan only the essential terms' buckets, and the
      * non-essential probe only its own — at trillion-posting scale
      * that is the difference between scanning the query's FULL
      * vocabulary buckets (what [[topK]] does) and only its essential
      * ones plus a candidate-filtered probe. df comes from the
      * query-bucket-pruned scan and is exact: every posting of a query
      * term lives in that term's bucket. Results are identical to
      * [[topK]] (the max-score exactness argument is untouched — only
      * WHERE postings are read changes). Each stage's term frame is
      * query-cardinality and eagerly materialized upstream, so the
      * bucket-list collect per stage is a bounded driver read (at most
      * `termBuckets` longs).
      */
    def topKMaxScore(spark: org.apache.spark.sql.SparkSession,
                     queries: DataFrame, queryIdCol: String,
                     queryTextCol: String, k: Int,
                     params: Params = Params()): DataFrame = {
      val stats = corpusStats(spark)
      val ix = read(spark)
      val dl = if (stats.isDefined) ix.dl
        else ix.tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      // per-call instrumentation, published whole on return (see the
      // field doc: concurrent calls must never interleave entries)
      val stageBuckets = scala.collection.mutable.Map[String, Set[Long]]()
      // ONE store listing/read shared by all stages (compaction is an
      // offline op, so the view cannot change mid-query); each stage
      // applies its own partition-column bucket filter + term IN
      // pushdown to it ([[prunedScan]])
      lazy val raw = store.read(spark)
      val fetch: (String, DataFrame) => DataFrame =
        if (termBuckets == 0)
          (_, terms) => ix.tf.join(broadcast(terms), "term")
        else (stage, terms) => {
          val vocab = termVocab(terms)
          stageBuckets(stage) = vocab.buckets.toSet
          prunedScan(raw, vocab, spark).join(broadcast(terms), "term")
        }
      // Term stats from the IMPACT artifact when the current generation
      // has one: df + (max_tf, min_dl) become a file-pruned metadata
      // lookup merged with the tail's contribution (disjoint docs per
      // the ingest contract, so the df sum and the extreme merges are
      // exact) — the UB/essential split computes WITHOUT reading any
      // postings. No artifact → aggregate over the bucket-pruned scan
      // (the "df" stage), extremes null (saturation bound).
      val fsys = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val tstatsGen = auxGeneration(spark).filter(w =>
        fsys.exists(new org.apache.hadoop.fs.Path(tstatsDir(w))))
      val termStatsFor: DataFrame => DataFrame = terms => tstatsGen match {
        case Some(w) =>
          val art0 = spark.read.parquet(tstatsDir(w))
          val pruned =
            if (termBuckets == 0) art0
            else {
              val vocab = termVocab(terms)
              stageBuckets("tstats") = vocab.buckets.toSet
              if (vocab.isEmpty) art0.where(lit(false))
              else {
                val base = art0.where(col("bucket").isin(vocab.buckets: _*))
                vocab.pairs match {
                  case Some(pairs) =>
                    base.where(col("term").isin(pairs.map(_._1): _*))
                  case None => base
                }
              }
            }
          val art = pruned.join(broadcast(terms), "term")
            .select(col("term"), col("df").as("__dfw"),
              col("max_tf").as("__mtfw"), col("min_dl").as("__mdlw"))
          val tail = tailTf(spark)
          val tdl = tail.groupBy("doc_id").agg(sum("tf").as("dl"))
          val tailStat = tail.join(broadcast(terms), "term")
            .join(tdl, "doc_id")
            .groupBy("term").agg(count(lit(1)).as("__dft"),
              max("tf").as("__mtft"), min("dl").as("__mdlt"))
          art.join(tailStat, Seq("term"), "full_outer")
            .select(col("term"),
              (coalesce(col("__dfw"), lit(0L)) +
                coalesce(col("__dft"), lit(0L))).as("df"),
              greatest(col("__mtfw"), col("__mtft")).as("max_tf"),
              least(col("__mdlw"), col("__mdlt")).as("min_dl"))
        case None =>
          fetch("df", terms).groupBy("term").agg(count(lit(1)).as("df"))
            .withColumn("max_tf", lit(null).cast("long"))
            .withColumn("min_dl", lit(null).cast("long"))
      }
      val out = Bm25.topKMaxScoreCore(fetch, termStatsFor, dl, queries,
        queryIdCol, queryTextCol, k, params, stats)
      // every stage's fetch has executed by here (the core collects its
      // θ seed and checkpoints the splits synchronously) — publish the
      // complete per-call snapshot
      lastStageBuckets = stageBuckets.toMap
      out
    }
  }
}
