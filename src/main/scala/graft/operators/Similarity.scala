package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate-nearest-neighbor search over an embedding column. */
object Similarity {

  /** Brute-force cosine top-k against a literal query vector — the exact
    * baseline. Scales linearly (one scan, one top-k reduction); correct at
    * any size, bounded by scan throughput.
    */
  def bruteForceTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int
  ): DataFrame =
    df.select(col(s"`${idCol}`"),
        VectorFns.cosine(col(s"`${vecCol}`"), VectorFns.vecLit(query)).as("cosine"))
      .orderBy(col("cosine").desc, col(s"`${idCol}`").asc)
      .limit(k)

  /** All-pairs top-k join: for each probe row, the k nearest base rows by
    * cosine. Brute-force per pair but shuffle-partitioned by probe id, so
    * it distributes; use the LSH variant when base is large.
    */
  def knnJoin(
      probes: DataFrame,
      base: DataFrame,
      vecCol: String,
      probeId: String,
      baseId: String,
      k: Int
  ): DataFrame = {
    // Norms are computed ONCE per input row, below the join — inside the
    // pair loop each candidate costs a single dot product, not three.
    val p = probes.select(col(s"`${probeId}`").as("probe_id"), col(s"`${vecCol}`").as("__pv"))
      .withColumn("__pn", VectorFns.norm2(col("__pv")))
    val b = base.select(col(s"`${baseId}`").as("base_id"), col(s"`${vecCol}`").as("__bv"))
      .withColumn("__bn", VectorFns.norm2(col("__bv")))
    val scored = p.crossJoin(b)
      .select(col("probe_id"), col("base_id"),
        (VectorFns.dot(col("__pv"), col("__bv")) / (col("__pn") * col("__bn"))).as("cosine"))
    val w = Window.partitionBy("probe_id").orderBy(col("cosine").desc, col("base_id").asc)
    scored.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k).drop("__rn")
  }

  /** Contrastive hard-negative mining: for each anchor, the `k` MOST
    * similar corpus rows that are genuinely different — cosine strictly
    * below `dupThreshold` (near-duplicates make false negatives that
    * poison a contrastive loss) and not the anchor row itself. The
    * training-pair sampler for embedding/retrieval models: positives come
    * from the near-dup family ([[cosineDupPairsExactBlocked]] et al.),
    * negatives must be hard (high similarity) but not duplicates.
    *
    * Shape: EXACT route — anchors are the small side (a per-batch sample
    * of the corpus), so the cross join broadcasts them and each corpus
    * partition scores its rows against every anchor locally: one dot
    * product per (anchor, row), norms computed once per input row below
    * the join, no corpus shuffle. The per-anchor cut is a rank window on
    * `anchor_id` whose `WindowGroupLimit` pushdown keeps ≤ k rows per
    * anchor per map task before the exchange. At 100 TB the anchor batch
    * is what you size (10³–10⁴ per pass); for anchor sets too large to
    * broadcast, route anchors through [[lshTopKPartitioned]] with k
    * padded by the expected dup count, then apply the same
    * `cosine < dupThreshold` filter — same emission contract, recall
    * bounded by the LSH stripe instead of exact.
    */
  def hardNegatives(
      anchors: DataFrame,
      corpus: DataFrame,
      vecCol: String,
      anchorId: String,
      corpusId: String,
      k: Int,
      dupThreshold: Double
  ): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val a = broadcast(
      anchors.select(col(s"`$anchorId`").as("anchor_id"), col(s"`$vecCol`").as("__av"))
        .withColumn("__an", VectorFns.norm2(col("__av"))))
    val c = corpus.select(col(s"`$corpusId`").as("negative_id"), col(s"`$vecCol`").as("__cv"))
      .withColumn("__cn", VectorFns.norm2(col("__cv")))
    val scored = a.crossJoin(c)
      .where(col("anchor_id") =!= col("negative_id"))
      .select(col("anchor_id"), col("negative_id"),
        (VectorFns.dot(col("__av"), col("__cv")) / (col("__an") * col("__cn"))).as("cosine"))
      .where(col("cosine") < dupThreshold)
    val w = Window.partitionBy("anchor_id").orderBy(col("cosine").desc, col("negative_id").asc)
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Attach the sign-projection LSH bucket id (`__bucket`) to every row:
    * one codegen'd `sign_bands` kernel call per row — map-side, zero
    * shuffle (it replaced a posexplode + nBits-aggregate shuffle of
    * #rows×dim exploded values). Weight function identical to
    * [[VectorFns.signBucket]] (hash-Rademacher on (dimension index,
    * projection index), spec-enforced bit-for-bit), so buckets computed
    * here match buckets computed expression-side for a probe vector.
    */
  def withSignBucket(df: DataFrame, vecCol: String, idCol: String, nBits: Int): DataFrame =
    df.withColumn("__bucket",
      element_at(graft.functions.VectorExpressions.signBands(
        col(s"`${vecCol}`"), nBits, 1), 1))

  /** LSH-bucketed ANN: restrict the scan to rows sharing the sign-projection
    * bucket of the query (optionally probing 1-bit-flip neighbor buckets).
    * Trades recall for a bucket-pruned scan — the 100 TB path: the bucket id
    * is computable at write time and usable as a partition column, making
    * this a partition-pruned read instead of a full scan.
    */
  def lshTopK(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nBits: Int = 8,
      multiProbe: Boolean = true
  ): DataFrame = {
    val bucketed = withSignBucket(df, vecCol, idCol, nBits)
    // Query bucket computed the same way, on a 1-row frame (no driver math
    // duplication of the projection logic).
    val qRow = bucketed.sparkSession.range(1)
      .select(VectorFns.signBucket(VectorFns.vecLit(query), nBits).as("qb"))
      .collect()(0).getLong(0)
    val probes: Seq[Long] =
      if (multiProbe) qRow +: (0 until nBits).map(b => qRow ^ (1L << b))
      else Seq(qRow)
    bruteForceTopK(
      bucketed.where(col("__bucket").isin(probes: _*)),
      vecCol, idCol, query, k)
  }

  /** Write an embedding table PARTITIONED BY its LSH sign-bucket — the
    * 100 TB ANN layout: the bucket is a directory-level partition column, so
    * probe queries become partition-PRUNED reads (Spark lists only the
    * probed bucket directories) instead of full scans.
    */
  def writeBucketed(df: DataFrame, vecCol: String, idCol: String,
                    path: String, nBits: Int): Unit =
    withSignBucket(df, vecCol, idCol, nBits)
      .withColumnRenamed("__bucket", "bucket")
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** ANN over a bucket-partitioned layout: compute the probe's bucket (+
    * 1-bit-flip neighbors), read ONLY those partitions, brute-force within.
    * `.explain` shows the bucket values in PartitionFilters — the scan never
    * touches other directories.
    */
  def lshTopKPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      vecCol: String,
      idCol: String,
      query: Seq[Double],
      k: Int,
      nBits: Int,
      multiProbe: Boolean = true
  ): DataFrame = {
    val qBucket = spark.range(1)
      .select(VectorFns.signBucket(VectorFns.vecLit(query), nBits).as("qb"))
      .collect()(0).getLong(0)
    val probes: Seq[Long] =
      if (multiProbe) qBucket +: (0 until nBits).map(b => qBucket ^ (1L << b))
      else Seq(qBucket)
    bruteForceTopK(
      spark.read.parquet(path).where(col("bucket").isin(probes: _*)),
      vecCol, idCol, query, k)
  }

  /** EXACT embedding-cosine near-duplicate pairs: all-pairs join + cosine
    * filter. Quadratic in WORK and in SHAPE (a non-equi join plans as a
    * broadcast-nested-loop) — the in-memory correctness verifier for
    * [[cosineDupPairs]] and [[cosineDupPairsExactBlocked]] on small frames;
    * never put this shape on a fact path (use the blocked variant, which
    * computes the identical result through a shuffled equi-join).
    */
  def cosineDupPairsExact(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double
  ): DataFrame = {
    // One norm per ROW (linear), not per PAIR (quadratic): the n^2 loop
    // then costs one dot product per pair. Same arithmetic, same values.
    val a = df.select(col(s"`${idCol}`").as("id_a"), col(s"`${vecCol}`").as("__va"))
      .withColumn("__na", VectorFns.norm2(col("__va")))
    val b = df.select(col(s"`${idCol}`").as("id_b"), col(s"`${vecCol}`").as("__vb"))
      .withColumn("__nb", VectorFns.norm2(col("__vb")))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        (VectorFns.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** EXACT all-pairs cosine pairs as a BLOCK-PARTITIONED equi-join (the
    * classic distributed triangle join) — identical pairs and bit-identical
    * cosines to [[cosineDupPairsExact]], but a shape that distributes.
    *
    * Why it exists: at thresholds BELOW the LSH-viable regime (here the
    * qualifying pairs sit in a gapless tail just above the random-pair
    * baseline — measured [0.35, 0.51] on this corpus), NO blocking scheme
    * can prune without dropping true pairs, so exact low-threshold cosine
    * is irreducibly O(n²) WORK in any formulation (the q62 dense-route
    * argument). What is NOT irreducible is the SHAPE: a `id_a < id_b`
    * non-equi join plans as BroadcastNestedLoopJoin — one side fully
    * broadcast to every task, a driver/memory death long before the
    * arithmetic matters. Here each row hashes to one of `blocks` id-blocks,
    * both sides explode to the block-PAIR keys they participate in
    * (row in block b → left keys (b, j≥b), right keys (i≤b, b)), and the
    * pair enumeration becomes a shuffled sort-merge join on the key:
    * every unordered pair is enumerated EXACTLY once (cross-block pairs
    * appear in one orientation by construction; same-block pairs are
    * ordered by `id_a < id_b`), no broadcast, no nested loop, partition
    * work balanced by construction at (n/blocks)² per key. Replication is
    * ~`blocks`× per side — choose blocks ≈ √(2 · parallelism) (tasks =
    * blocks·(blocks+1)/2) and raise `maxRows` consciously: the guard
    * exists because n²/2 dot products at corpus scale should be a
    * deliberate decision, not an accident.
    *
    * Orientation note: `least/greatest` canonicalizes ids while the dot
    * and norm products stay argument-order-independent (IEEE multiply and
    * same-index summation commute), so results hash-match the naive path.
    */
  def cosineDupPairsExactBlocked(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      blocks: Int = 16,
      maxRows: Long = 1000000L
  ): DataFrame = {
    require(blocks > 0 && blocks <= 4096, s"blocks must be in [1, 4096], got $blocks")
    val base = df.select(col(s"`${idCol}`").as("id"), col(s"`${vecCol}`").as("v"))
      .withColumn("n", VectorFns.norm2(col("v")))
      .withColumn("b", pmod(hash(col("id")), lit(blocks)))
    // Bound probe (maxRows <= 0 skips it — for callers that already bounded
    // the input, e.g. the q62 dense route's own row probe). LIMIT-bounded so
    // the guard costs O(maxRows) scan work, not a full count of an input it
    // is about to refuse.
    if (maxRows > 0) {
      // LIMIT takes an Int: for a bound beyond Int.MaxValue the probe
      // cannot observe maxRows+1 rows, so fall back to the full count
      // rather than silently passing an unverifiable guard.
      val over =
        if (maxRows >= Int.MaxValue) df.count() > maxRows
        else df.select(lit(1)).limit((maxRows + 1).toInt).count() > maxRows
      require(!over,
        s"cosineDupPairsExactBlocked: input exceeds maxRows=$maxRows — exact " +
          "all-pairs cosine below the LSH-viable threshold is O(n²) work in any " +
          "formulation; raise maxRows deliberately or use cosineDupPairs (banded " +
          "LSH) at a near-dup threshold")
    }
    val left = base.withColumn("__j", explode(sequence(col("b"), lit(blocks - 1))))
      .withColumn("__k", col("b") * blocks + col("__j"))
    val right = base.withColumn("__i", explode(sequence(lit(0), col("b"))))
      .withColumn("__k", col("__i") * blocks + col("b"))
    left.as("a").join(right.as("b"),
        col("a.__k") === col("b.__k") &&
          (col("a.b") =!= col("b.b") || col("a.id") < col("b.id")))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        (VectorFns.dot(col("a.v"), col("b.v")) / (col("a.n") * col("b.n"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** EXACT sparse token-cosine similarity pairs over raw text — the
    * bag-of-words cosine between token-count vectors, computed through an
    * inverted token index (one shuffle on the token, one on the pair):
    * dot(A,B) = Σ_t cnt_A(t)·cnt_B(t) — only tokens the pair SHARES
    * contribute, so the posting-list self-join enumerates exactly the
    * nonzero terms. This is the lexical analogue of [[cosineDupPairsExact]]
    * with no embedding model required.
    *
    * Scale shape: linear in the postings except for hot tokens (stopwords:
    * df n → n² join rows). `maxTokenDf > 0` drops tokens above that
    * document frequency from the index — with stopword-dominated corpora
    * that bounds the quadratic term at a small cosine error (standard
    * practice); 0 keeps the computation exact (the oracle-checked mode).
    */
  def tokenCosinePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      maxTokenDf: Long = 0L
  ): DataFrame = {
    val toks = df
      .where(col(s"`${textCol}`").isNotNull && length(trim(col(s"`${textCol}`"))) > 0)
      .select(col(s"`${idCol}`").as("id"),
        explode(split(trim(col(s"`${textCol}`")), "\\s+")).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
    // Norms over ALL tokens (exact even when the index is df-capped).
    val norms = toks.groupBy("id")
      .agg(sqrt(sum(col("c") * col("c"))).as("nrm"))
    val index =
      if (maxTokenDf <= 0) toks
      else toks.withColumn("__df",
          count(lit(1)).over(Window.partitionBy("t")))
        .where(col("__df") <= maxTokenDf).drop("__df")
    val a = index.as("a"); val b = index.as("b")
    val dots = a.join(b, col("a.t") === col("b.t") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.c") * col("b.c")).as("__dot"))
    dots
      .join(norms.select(col("id").as("id_a"), col("nrm").as("__na")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("__dot").cast("double") / (col("__na") * col("__nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** EXACT sparse token-cosine pairs via the AllPairs prefix filter
    * (Bayardo et al., WWW'07) — the corpus-scale path that [[tokenCosinePairs]]
    * is the baseline for, and the cosine analogue of the rarest-prefix
    * Jaccard index (`Dedup.ngramJaccardPrefixFiltered`).
    *
    * Soundness: order each document's tokens rarest-first (global df, then
    * token) and index the minimal prefix whose indexed squared mass exceeds
    * (1-t²)·‖A‖² — then the UNINDEXED suffix has L2 mass ≤ t·‖A‖, so a pair
    * sharing no indexed token of A has cos(A,B) ≤ ‖Â_suffix‖·‖B̂‖ < t.
    * Candidates are therefore (indexed token) ⋈ (all postings); hot
    * stopword tokens never enter the index unless a document's mass is
    * concentrated in them, which is what kills the naive join (every doc
    * pair shares "the" → n² pair keys). Verification computes the FULL dot
    * from per-doc token-count maps — exact, linear in candidates.
    *
    * ADAPTIVE DENSE ROUTE: prefix filtering prunes by token RARITY, so a
    * corpus with a tiny vocabulary and no Zipf tail defeats it — every doc
    * pair shares "rare" tokens and the candidate set degenerates to ~n²/2
    * (measured on the synthetic bench corpus: 12.3M of 12.5M pairs survive
    * the filter). But a vocabulary small enough to defeat the filter is
    * small enough to MATERIALIZE: token-count vectors over V dims are
    * dense V-vectors, and the exact all-pairs dense-cosine join (codegen'd
    * `vec_dot`, the [[cosineDupPairsExact]] shape) computes the same pairs
    * with an O(V) dot per pair and no inverted index at all. The operator
    * probes vocabulary size and row count on the persisted token frame
    * (two cheap bounded actions) and routes: V ≤ `denseMaxVocab` and
    * n ≤ `denseMaxRows` → dense all-pairs; otherwise → prefix index. Both
    * routes are EXACT — identical pairs, identical arithmetic — so the
    * routing is a pure physical-plan choice, like Catalyst picking
    * broadcast vs sort-merge. `denseMaxRows` bounds the dense route's
    * inherent n²/2 pair enumeration (beyond it on a degenerate corpus,
    * exact all-pairs similarity is irreducibly quadratic in ANY
    * formulation — an index only hides the same pair count);
    * `denseMaxVocab = 0` disables the probe and forces the prefix path.
    */
  def tokenCosinePairsPrefix(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double,
      denseMaxVocab: Int = 1024,
      denseMaxRows: Long = 100000L
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, "prefix filter needs t in (0,1]")
    val toks = df
      .where(col(s"`${textCol}`").isNotNull && length(trim(col(s"`${textCol}`"))) > 0)
      .select(col(s"`${idCol}`").as("id"),
        explode(split(trim(col(s"`${textCol}`")), "\\s+")).as("t"))
      .groupBy("id", "t").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val dfreq = toks.groupBy("t").agg(count(lit(1)).as("df"))

    val denseVocab: Option[Array[String]] =
      if (denseMaxVocab <= 0) None
      else {
        // limit(V+1) keeps the probe O(denseMaxVocab) however large the
        // true vocabulary is.
        val vs = dfreq.select("t").limit(denseMaxVocab + 1).collect().map(_.getString(0))
        if (vs.isEmpty || vs.length > denseMaxVocab) None // empty corpus -> prefix (trivially empty)
        // Routing probe only — approx distinct (no shuffle-by-id) is fine:
        // the bound guards quadratic blowup, not correctness.
        else if (toks.agg(approx_count_distinct("id")).head().getLong(0) > denseMaxRows) None
        else Some(vs.sorted)
      }
    graft.core.Frames.own(df.sparkSession, toks)

    denseVocab match {
      case Some(dims) => denseTokenCosine(toks, dims, threshold)
      case None       => prefixTokenCosine(toks, dfreq, threshold)
    }
  }

  /** Dense route: scatter each doc's token counts into a V-dim vector
    * (broadcast dim table + map-lookup scatter) and run the exact
    * all-pairs dense-cosine join. Exactly the sparse cosine — zero dims
    * contribute nothing to dot or norm.
    */
  private def denseTokenCosine(
      toks: DataFrame,
      dims: Array[String],
      threshold: Double
  ): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    val dimDf = dims.zipWithIndex.toSeq.toDF("t", "__dim")
    val vecs = toks.join(broadcast(dimDf), "t")
      .groupBy("id")
      .agg(map_from_entries(collect_list(
        struct(col("__dim"), col("c").cast("double")))).as("__m"))
      .select(col("id"), transform(sequence(lit(0), lit(dims.length - 1)),
        i => coalesce(element_at(col("__m"), i), lit(0.0))).as("__vec"))
    // Blocked equi-join shape (no BroadcastNestedLoopJoin); the row bound
    // was already enforced by this route's own probe, so skip the re-count.
    cosineDupPairsExactBlocked(vecs, "__vec", "id", threshold, maxRows = 0L)
  }

  /** Prefix-index route over the prepared (persisted) token frame. */
  private def prefixTokenCosine(
      toks: DataFrame,
      dfreq: DataFrame,
      threshold: Double
  ): DataFrame = {
    val wDoc = Window.partitionBy("id").orderBy(col("df").asc, col("t").asc)
    val ordered = toks.join(dfreq, "t")
      .withColumn("c2", (col("c") * col("c")).cast("double"))
      .withColumn("cum2", sum(col("c2")).over(
        wDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("tot2", sum(col("c2")).over(
        Window.partitionBy("id").rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // Keep a row iff BEFORE it the suffix could still reach t (strictly,
    // with an epsilon so boundary-exact pairs are never missed).
    val indexed = ordered.where(
      col("tot2") - (col("cum2") - col("c2")) >=
        (lit(threshold * threshold) - lit(1e-9)) * col("tot2"))
      .select(col("id"), col("t"))

    val candidates = indexed.as("a")
      .join(toks.select(col("id"), col("t")).as("b"),
        col("a.t") === col("b.t") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // Verification from token-SORTED posting arrays with the codegen'd
    // two-pointer merge kernel (TokenDotExpr): O(|A|+|B|) per pair inside
    // whole-stage codegen, vs the interpreted HOF-over-map formulation's
    // linear lookup per entry.
    val lists = toks.groupBy("id").agg(
      sort_array(collect_list(struct(col("t"), col("c")))).as("pl"),
      sqrt(sum(col("c") * col("c"))).as("nrm"))
    val dot = graft.functions.TokenDotColumns.tokenDot(col("__pa"), col("__pb"))
    candidates
      .join(lists.select(col("id").as("id_a"), col("pl").as("__pa"), col("nrm").as("__na")), "id_a")
      .join(lists.select(col("id").as("id_b"), col("pl").as("__pb"), col("nrm").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"), (dot / (col("__na") * col("__nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** (__id, __bands: array of `bands` longs) — the multi-table
    * generalization of [[withSignBucket]]: band `b` packs sign bits of
    * projections `b·bandBits .. (b+1)·bandBits-1` from the same
    * hash-Rademacher family, so distinct bands are independent hash
    * tables. ALL bandBits×bands projections come from one codegen'd
    * `sign_bands` call per row — map-side, zero shuffle. Consumers
    * re-join vectors by id where they need them ([[cosineDupPairs]]'s
    * verify stage).
    */
  private def signBands(df: DataFrame, vecCol: String, idCol: String,
                        bandBits: Int, bands: Int): DataFrame =
    df.select(col(s"`${idCol}`").as("__id"),
      graft.functions.VectorExpressions.signBands(
        col(s"`${vecCol}`"), bandBits, bands).as("__bands"))

  /** Embedding-cosine near-duplicate pairs, BANDED sign-LSH blocked — the
    * corpus-scale near-dup operator. `bands` independent `bandBits`-bit
    * sign-bucket tables block candidates (a pair is a candidate iff it
    * collides in ANY band — the MinHash-banding structure of
    * `Dedup.ngramJaccardViaLsh` transplanted to the angular family); each
    * candidate is then verified with the EXACT cosine, so emitted pairs are
    * never false positives. Blocking recall for a pair at cosine c is
    * 1-(1-p^bandBits)^bands with p = 1-θ(c)/π: at the defaults and c=0.9
    * that is ≥ 0.995, rising steeply toward 1 for true near-dups, while a
    * random near-orthogonal pair collides anywhere with probability
    * ~bands/2^bandBits (≈ 6% — the candidate set stays ~linear on corpora
    * whose random-pair cosine sits near 0). This is the intended regime:
    * HIGH thresholds, where near-dup semantics live. Below ~0.7 the
    * recall/pruning trade collapses for ANY angular blocking (measured on
    * this corpus: qualifying 0.35-pairs form a gapless tail over the
    * random baseline) — for exact low-threshold sweeps use
    * [[cosineDupPairsExactBlocked]] and budget the quadratic work.
    *
    * Shape: one shuffle to band buckets, equi-join on (band, bucket),
    * pair dedup, broadcast-sized verify joins — no all-pairs anywhere; at
    * 100 TB the band tables are the partition layout.
    */
  def cosineDupPairs(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      bandBits: Int = 8,
      bands: Int = 16
  ): DataFrame = {
    val base = df.select(col(s"`${idCol}`").as("id"), col(s"`${vecCol}`").as("v"))
      .withColumn("n", VectorFns.norm2(col("v")))
    val banded = signBands(base, "v", "id", bandBits, bands)
      .select(col("__id").as("id"), posexplode(col("__bands")).as(Seq("__band", "__bucket")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.__band") === col("b.__band") &&
          col("a.__bucket") === col("b.__bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    cand
      .join(base.select(col("id").as("id_a"), col("v").as("__va"), col("n").as("__na")), "id_a")
      .join(base.select(col("id").as("id_b"), col("v").as("__vb"), col("n").as("__nb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (VectorFns.dot(col("__va"), col("__vb")) / (col("__na") * col("__nb"))).as("cosine"))
      .where(col("cosine") >= threshold)
  }
}
