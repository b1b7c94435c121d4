package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Stages
import graft.functions.TextFns

/** Deduplication operators — the reference's deterministic keep-first dedup
  * (A1, `candidate/transform.py:16-68`) plus the near-dup family a training
  * -data pipeline needs (exact, MinHash-LSH, SimHash, n-gram Jaccard,
  * embedding-cosine).
  *
  * All shapes are one-shuffle-per-stage and partition by the dedup key, so
  * they scale horizontally; none collect to the driver.
  */
object Dedup {

  /** Deterministic keep-first dedup: among rows equal on `keys`, keep the
    * first by `order` (ties must be broken by the caller's order columns for
    * full determinism). `dropDuplicates` alone is non-deterministic — this
    * is the distributed equivalent of Polars `unique(keep="first",
    * maintain_order=True)` after a sort.
    */
  def keepFirst(df: DataFrame, keys: Seq[String], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(k => col(s"`$k`")): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Quality-aware cluster representative selection: given near-dup
    * clusters (`(id, label)` from [[connectedComponents]]), keep the
    * member with the HIGHEST `score` per cluster (ties break to the
    * lowest id) instead of the default lowest-id member — the choice real
    * release pipelines make (keep the longest / best-scoring page of a
    * duplicate set, e.g. RefinedWeb's keep-longest rule). Rows of `df`
    * not in any cluster survive untouched.
    *
    * One broadcast-eligible join of the (small, pair-derived) cluster
    * frame + one window partitioned by cluster label — clusters are
    * near-dup sets, bounded by construction, so the window never sees
    * more than one duplicate set.
    */
  def keepBestInCluster(df: DataFrame, idCol: String, clusters: DataFrame,
                        score: Column): DataFrame = {
    val labeled = df.join(
      clusters.select(col("id").as("__cid"), col("label").as("__label")),
      col(s"`$idCol`") === col("__cid"), "left")
    // Unclustered rows bypass the window entirely — routing them through
    // a null partition would funnel the whole non-duplicate corpus into
    // ONE window partition at scale.
    val loners = labeled.where(col("__label").isNull)
    val w = Window.partitionBy("__label")
      .orderBy(score.desc, col(s"`$idCol`").asc)
    val best = labeled.where(col("__label").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1).drop("__rn")
    loners.union(best).drop("__cid", "__label")
  }

  /** Exact text dedup: keep one representative (min id) per normalized-text
    * fingerprint. Single hash-aggregate shuffle on the fingerprint.
    * Whitespace-only documents have no content to fingerprint — each gets a
    * per-row key so "empty" never forms a dedup cluster.
    */
  def exactByFingerprint(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // normalize yields empty iff the space-trimmed raw text is empty (the
    // kernel falls back to raw text otherwise), so the emptiness test can
    // run on the cheap trim instead of a second normalization pass.
    val key = when(length(trim(col(s"`${textCol}`"))) === 0,
        concat(lit("__empty__:"), col(s"`${idCol}`").cast("string")))
      .otherwise(TextFns.fingerprint(col(s"`${textCol}`")))
    keepFirst(
      df.withColumn("__fp", key),
      Seq("__fp"),
      Seq(col(s"`${idCol}`").asc)
    ).drop("__fp")
  }

  /** Universal-hash family for MinHash: h_i(x) = (a_i * h32(x) + b_i) mod P
    * (P = 2^31-1 prime) where h32 is the low 32 bits of one xxhash64 — the
    * shingle string is hashed ONCE; each family member is a multiply-add-mod,
    * vs re-running murmur3 over the string bytes per hash function (64x the
    * string-hashing work). The modulus is what makes each member a distinct
    * PERMUTATION — without it a*h+b is monotonic in h and every minhash
    * would pick the same argmin shingle. Operands stay within 32 bits so
    * products never overflow a long (Spark 4 ANSI mode errors on overflow).
    * Constants are deterministic (seeded PRNG, odd multipliers) — shared
    * with the single-pass kernel ([[graft.functions.SketchKernels]]) so all
    * signature paths agree bit-for-bit.
    */
  private[operators] def hashFamily(numHashes: Int): Seq[(Long, Long)] =
    graft.functions.SketchKernels.hashFamily(numHashes).toSeq

  private def base32(s: Column): Column = xxhash64(s).bitwiseAND(lit(0xFFFFFFFFL))

  private val MersennePrime31 = 2147483647L // 2^31 - 1

  /** MinHash signature as a single Column expression (nests higher-order
    * functions — interpreted; fine for tests/small frames; the scalable
    * path used by [[minhashLshPairs]] is [[minhashSignatures]]).
    * Same hash family as [[minhashSignatures]].
    */
  def minhashSignature(shingles: Column, numHashes: Int): Column = {
    val fam = hashFamily(numHashes)
    val bases = transform(array_distinct(shingles), s => base32(s))
    array(fam.map { case (a, b) =>
      array_min(transform(bases, h => pmod(h * a + b, lit(MersennePrime31))))
    }: _*)
  }

  /** Scalable MinHash: explode shingles to rows, one xxhash64 per shingle,
    * `numHashes` codegen'd `min(a_i * h + b_i mod P)` aggregates in one
    * shuffle on the doc id. Returns (id, sig: array<long>). Equivalent to
    * [[minhashSignature]] (min over a multiset equals min over its set, so
    * duplicate shingles need no dedup).
    */
  def minhashSignatures(df: DataFrame, idCol: String, shinglesCol: Column,
                        numHashes: Int): DataFrame =
    minhashFromExploded(
      df.select(col(s"`${idCol}`").as("id"), explode(shinglesCol).as("s")),
      numHashes)

  /** Same, over an already-exploded (id, s) shingle frame. */
  private def minhashFromExploded(exploded: DataFrame, numHashes: Int): DataFrame = {
    val fam = hashFamily(numHashes)
    val hashed = exploded.withColumn("__h", base32(col("s")))
    val aggs = fam.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("__h") * a + b, lit(MersennePrime31))).as(s"__h$i")
    }
    hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(i => col(s"__h$i")): _*).as("sig"))
  }

  /** Word-shingle MinHash as a SINGLE-PASS per-row kernel
    * ([[graft.functions.MinHashSigExpr]]): tokenize once, hash each shingle
    * once, fold k mins in-register. Signature computation is per-row work —
    * no explode, no shuffle, no k-wide aggregate codegen; identical output
    * to [[minhashSignatures]] (spec-enforced). This is both the fastest and
    * the most scale-robust path (map-side only).
    */
  def minhashSignaturesGen(df: DataFrame, idCol: String, textCol: String,
                           shingleN: Int, numHashes: Int): DataFrame =
    df.select(col(s"`${idCol}`").as("id"),
        graft.functions.SketchExpressions
          .minhashSig(col(s"`$textCol`"), shingleN, numHashes).as("sig"))
      .where(col("sig").isNotNull)

  /** Explode a (id, sig) signature frame into LSH band buckets
    * (id, sig, band, bh). Shared by the batch pair-join
    * ([[minhashLshPairs]]) and the incremental index
    * ([[graft.streaming.StreamingDedup]]) so both generate bit-identical
    * bucket keys — a doc indexed by the batch path is found by the
    * streaming path and vice versa.
    */
  private[graft] def bandBuckets(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    sig.select(
      col("id"), col("sig"),
      explode(
        transform(
          sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"), xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)).cast("string"), b).as("bh"))
        )
      ).as("bucket")
    ).select(col("id"), col("sig"), col("bucket.band"), col("bucket.bh"))

  /** Fraction of equal minhash positions — the LSH Jaccard estimate. */
  private[graft] def estJaccard(sigA: Column, sigB: Column, numHashes: Int): Column =
    size(filter(zip_with(sigA, sigB, (x, y) => x === y), m => m))
      .cast("double") / numHashes

  /** MinHash-LSH candidate pairs: shingle -> minhash signature -> band
    * buckets -> self-join within buckets -> verified Jaccard estimate.
    *
    * Scale shape: explode to (bandIdx, bandHash) rows — one shuffle to
    * co-locate bucket members; bucket self-join is local per bucket. At
    * 100 TB, bucket skew (giant near-dup clusters) is the risk — mitigated
    * by distinct pairs + AQE skew-join; pathological buckets can be capped.
    *
    * @return (idA, idB, estJaccard) with idA < idB,
    *         estJaccard = fraction of matching minhashes.
    */
  def minhashLshPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      maxBucketSize: Int = 0,
      precomputedSig: Option[DataFrame] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // `precomputedSig` (same contract as StreamingDedup.dedupeBatch): an
    // (id, sig) frame from [[minhashSignaturesGen]] at these parameters.
    // The sketch kernel is the dominant map cost, so a caller holding
    // several consumers of the same corpus's signatures (e.g. a release
    // build plus its parity harness) computes them once. Doc membership
    // follows the SIG frame when supplied.
    val sig = precomputedSig
      .getOrElse(minhashSignaturesGen(df, idCol, textCol, shingleN, numHashes))
    val allBanded = bandBuckets(sig, bands, numHashes / bands)
    // Adversarial-corpus guard: a bucket holding a mega-cluster of
    // near-identical docs costs |bucket|^2 in the self-join. With
    // maxBucketSize > 0, buckets above the cap are dropped BEFORE the
    // join (one extra count-per-bucket window, map-side combinable).
    // Recall note: members of an over-cap bucket usually share their
    // other (band, bh) buckets too, so true near-dups are still found
    // unless ALL their buckets are over-cap — i.e. only mega-clusters
    // degrade, and they degrade to "sampled" rather than quadratic.
    val banded =
      if (maxBucketSize <= 0) allBanded
      else allBanded
        .withColumn("__bsz", count(lit(1)).over(Window.partitionBy("band", "bh")))
        .where(col("__bsz") <= maxBucketSize)
        .drop("__bsz")
    val a = banded.as("a")
    val b = banded.as("b")
    val pairs = a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    pairs
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** MinHash-LSH near-dup pairs BETWEEN two corpora — the one-shot
    * release diff ("which candidate docs near-duplicate the existing
    * corpus") without standing up the persistent streaming index. Same
    * hash family and band keys as [[minhashLshPairs]], so verdicts agree
    * with the within-corpus and incremental paths; the join crosses
    * sides only (left x right, never left x left), which also removes
    * the self-join's `id <` dedup concern — a doc id may even appear on
    * both sides (self-matches are excluded by id inequality).
    *
    * Scale shape: one shuffle per side to co-locate bucket members; the
    * typically-small candidate side is the natural AQE build side (no
    * forced broadcast — same contract as the streaming index).
    *
    * @return (id_left, id_right, est_jaccard)
    */
  def minhashLshPairsBetween(
      left: DataFrame, right: => DataFrame,
      textCol: String, idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.5,
      precomputedSigLeft: Option[DataFrame] = None,
      precomputedSigRight: Option[DataFrame] = None
  ): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    // precomputedSig*: (id, sig) frames from [[minhashSignaturesGen]] at
    // these parameters — the incremental-release path diffs a batch
    // against a 100 TB prior corpus by joining the prior's RETAINED
    // signature frame instead of re-scanning its text (same contract as
    // minhashLshPairs' precomputedSig; side membership follows the sig
    // frame when supplied). `right` is by-name: with precomputedSigRight
    // it is never evaluated, so a lazily-held prior corpus stays unbuilt.
    val bl = bandBuckets(
      precomputedSigLeft.getOrElse(
        minhashSignaturesGen(left, idCol, textCol, shingleN, numHashes)),
      bands, numHashes / bands).as("l")
    val br = bandBuckets(
      precomputedSigRight.getOrElse(
        minhashSignaturesGen(right, idCol, textCol, shingleN, numHashes)),
      bands, numHashes / bands).as("r")
    bl.join(br,
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.id") =!= col("r.id"))
      .select(col("l.id").as("id_left"), col("r.id").as("id_right"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .dropDuplicates("id_left", "id_right")
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .where(col("est_jaccard") >= threshold)
      .select("id_left", "id_right", "est_jaccard")
  }

  /** Cross-corpus n-gram Jaccard pairs — [[minhashLshPairsBetween]]
    * blocking (loosened by 0.25, same convention as [[ngramJaccardViaLsh]])
    * with EXACT Jaccard verification from the real shingle sets, so
    * emitted pairs are never estimate artifacts and the semantics are
    * SQL-oracle-checkable. Shingle sets are rebuilt only for docs that
    * appear in a blocked pair (semi-join first).
    *
    * @return (id_left, id_right, jaccard)
    */
  def ngramJaccardBetweenViaLsh(
      left: DataFrame, right: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3,
      threshold: Double = 0.6,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val blocked = minhashLshPairsBetween(left, right, textCol, idCol, n,
      numHashes, bands, threshold = math.max(0.0, threshold - 0.25))
    def sets(df: DataFrame, need: DataFrame) =
      df.join(need, col(s"`$idCol`") === col("__jid"), "left_semi")
        .select(col(s"`$idCol`").as("__jid"),
          graft.functions.SketchExpressions.wordShingles(col(s"`$textCol`"), n).as("__sh"))
    val needL = blocked.select(col("id_left").as("__jid")).distinct()
    val needR = blocked.select(col("id_right").as("__jid")).distinct()
    blocked
      .join(sets(left, needL)
        .select(col("__jid").as("id_left"), col("__sh").as("__sh_a")), "id_left")
      .join(sets(right, needR)
        .select(col("__jid").as("id_right"), col("__sh").as("__sh_b")), "id_right")
      .withColumn("__inter",
        graft.functions.SketchExpressions.sortedIntersectSize(col("__sh_a"), col("__sh_b"))
          .cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("__sh_a")) + size(col("__sh_b")) - col("__inter")))
      .where(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** EXACT cross-corpus n-gram Jaccard pairs — the inverted shingle
    * index restricted to cross-side postings (left × right only), same
    * convention as [[ngramJaccardPairs]] vs [[ngramJaccardViaLsh]] for
    * the within-corpus family. COMPLETE for any threshold > 0: a
    * qualifying pair shares at least one shingle, so joining the two
    * sides' postings finds every pair — no banding recall in the
    * semantics, which is what makes this route oracle-checkable against
    * a plain SQL inverted-index join. One shuffle per side on the
    * shingle key.
    *
    * Scale routing: the hot-shingle skew story is the same as q38's —
    * a boilerplate shingle in d_l left and d_r right docs emits
    * d_l·d_r candidate rows here. Corpora with such shingles should
    * take [[ngramJaccardBetweenPrefixFiltered]] (same exact semantics,
    * AllPairs prefix blocking) or [[ngramJaccardBetweenViaLsh]]
    * (band-blocked, recall bounded by the banding).
    *
    * @return (id_left, id_right, jaccard)
    */
  def ngramJaccardBetween(
      left: DataFrame, right: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3,
      threshold: Double = 0.6
  ): DataFrame = {
    def exploded(df: DataFrame) = shingleFrame(df, textCol, idCol, n)
      .select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val l = exploded(left).as("l")
    val r = exploded(right).as("r")
    l.join(r, col("l.s") === col("r.s") && col("l.id") =!= col("r.id"))
      .groupBy(col("l.id").as("id_left"), col("r.id").as("id_right"),
        col("l.n_sh").as("na"), col("r.n_sh").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** EXACT cross-corpus n-gram Jaccard via AllPairs PREFIX FILTERING —
    * the 100 TB route for the release diff, closing
    * [[ngramJaccardBetween]]'s hot-shingle caveat without giving up
    * completeness. The AllPairs prefix theorem is side-agnostic: under
    * ONE global total order (document frequency over BOTH corpora
    * combined, rarest first), a pair with J >= t must intersect within
    * the (|X| - ceil(t·|X|) + 1)-prefixes of both sides — so the
    * cross-side prefix join is complete, and the boilerplate shingles
    * that make the full posting join quadratic are exactly the ones no
    * prefix keeps. Candidates verify EXACTLY from the full shingle
    * arrays (codegen'd two-pointer intersect).
    *
    * Same output contract as [[ngramJaccardBetween]] (spec-equal);
    * cross-side-only join, self-matches excluded by id inequality.
    *
    * @return (id_left, id_right, jaccard)
    */
  def ngramJaccardBetweenPrefixFiltered(
      left: DataFrame, right: DataFrame,
      textCol: String, idCol: String,
      n: Int = 3,
      threshold: Double = 0.6
  ): DataFrame = {
    val shL = shingleFrame(left, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val shR = shingleFrame(right, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Frames.own(left.sparkSession, shL, shR)
    def exploded(sh: DataFrame) =
      sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val exL = exploded(shL); val exR = exploded(shR)
    // One GLOBAL ordering key over the combined vocabulary: any total
    // order is correct; combined df makes the kept prefixes the rarest
    // shingles of BOTH corpora, which is what shrinks the join.
    val dfreq = exL.select("s").union(exR.select("s"))
      .groupBy("s").agg(count(lit(1)).as("df"))
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    def ranked(ex: DataFrame) = ex.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)))
      .where(col("rk") <= prefixLen)
      .select("id", "s")
    val candidates = ranked(exL).as("a").join(ranked(exR).as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_left"), col("b.id").as("id_right"))
      .dropDuplicates("id_left", "id_right")
    candidates
      .join(shL.select(col("id").as("id_left"), col("sh").as("sh_a"),
        col("n_sh").as("na")), "id_left")
      .join(shR.select(col("id").as("id_right"), col("sh").as("sh_b"),
        col("n_sh").as("nb")), "id_right")
      .withColumn("inter",
        graft.functions.SketchExpressions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_left", "id_right", "jaccard")
  }

  /** 64-bit SimHash of the document's tokens, as a pure Column expression:
    * per-token xxhash64, then per-bit weighted majority vote.
    */
  def simhash64(tokens: Column): Column = {
    val hashes = transform(tokens, t => xxhash64(t))
    val bits = (0 until 64).map { j =>
      // vote_j = #tokens with bit j set minus #tokens with bit j clear
      val set = size(filter(hashes, h => (shiftright(h, j).bitwiseAND(lit(1L))) === 1L))
      when(set * 2 >= size(hashes), shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    when(size(tokens) === 0, 0L).otherwise(bits.reduce(_ + _))
  }

  /** Scalable SimHash: explode tokens, per-token xxhash64, 64 codegen'd
    * bit-sum aggregates in one shuffle on the doc id; majority vote per bit.
    * Returns (id, sig: long). Equivalent to [[simhash64]].
    */
  def simhashSignatures(df: DataFrame, idCol: String, tokensCol: Column): DataFrame = {
    val exploded = df
      .select(col(s"`${idCol}`").as("id"), explode(tokensCol).as("t"))
      .withColumn("__h", xxhash64(col("t")))
    val aggs = count(lit(1)).as("__n") +:
      (0 until 64).map(j => sum(shiftright(col("__h"), j).bitwiseAND(lit(1L))).as(s"__b$j"))
    exploded.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until 64).map(j =>
          when(col(s"__b$j") * 2 >= col("__n"), shiftleft(lit(1L), j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sig"))
  }

  /** Near-dup pairs by SimHash Hamming distance <= maxDist, blocked by
    * chunk pigeonholing (see [[hammingPairs]]). Signatures via the
    * single-pass per-row kernel ([[graft.functions.SimHash64Expr]]).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String, maxDist: Int = 3): DataFrame =
    hammingPairs(df.select(col(s"`${idCol}`").as("id"),
      graft.functions.SketchExpressions.simhash64(col(s"`$textCol`")).as("sig")), maxDist)

  /** Pairs of 64-bit signatures within Hamming distance `maxDist`, FULL
    * recall without a quadratic self-join: the signature splits into
    * `maxDist + 1` bit chunks, and by pigeonhole any pair within the
    * distance agrees exactly on at least one chunk — so candidates
    * enumerate via an equi-join on (chunk index, chunk value) and each
    * survivor is verified with one XOR/bit_count. This is the
    * modality-independent core shared by text SimHash ([[simhashPairs]])
    * and image perceptual hashes
    * ([[graft.multimodal.Multimodal.nearDupImagePairs]]).
    *
    * Input: (id, sig). Scale shape: one explode to (maxDist+1) rows per
    * signature, one shuffled equi-join on the chunk key; a hot chunk
    * value (e.g. all-zero chunks from near-blank inputs) is the skew to
    * watch — the same salting/cap guidance as the LSH band joins applies.
    */
  def hammingPairs(withSig: DataFrame, maxDist: Int = 3): DataFrame =
    hammingPairsCore(withSig, maxDist, keyCols = Nil)

  /** [[hammingPairs]] restricted to pairs sharing `keyCol` — the key
    * joins the blocking equi-key, so cross-key candidates are never even
    * enumerated (this is BLOCKING, not post-filtering: at scale the key
    * typically slashes each chunk bucket's fan-out, e.g. per-frame-index
    * matching in [[graft.multimodal.Multimodal.nearDupVideoPairs]]).
    * Output: (keyCol, id_a, id_b, hamming), one row per key and pair.
    */
  def hammingPairsBy(withSig: DataFrame, keyCol: String, maxDist: Int = 3): DataFrame =
    hammingPairsCore(withSig, maxDist, keyCols = Seq(keyCol))

  private def hammingPairsCore(
      withSig: DataFrame, maxDist: Int, keyCols: Seq[String]): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, s"maxDist in [0, 64), got $maxDist")
    val chunks = maxDist + 1
    // Balanced exact partition of the 64 bits into `chunks` NON-EMPTY
    // chunks: base width 64/chunks, the first 64%chunks chunks one bit
    // wider, offsets accumulated. A ceil-width scheme is NOT a partition
    // for many maxDist values (zero-width tail chunks match everything →
    // quadratic join; negative-width chunks are skipped entirely → missed
    // pairs at distance maxDist), so the pigeonhole guarantee requires
    // this exact-cover construction.
    val base = 64 / chunks
    val rem = 64 % chunks
    val widths = (0 until chunks).map(c => base + (if (c < rem) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    val carry = keyCols.map(col)
    val chunked = withSig.select(carry ++ Seq(col("id"), col("sig"),
      explode(array((0 until chunks).map { c =>
        val w = widths(c)
        val mask = if (w >= 64) -1L else (1L << w) - 1   // 1L<<64 wraps to 1
        struct(lit(c).as("chunk"),
          shiftright(col("sig"), offsets(c)).bitwiseAND(lit(mask)).as("ch"))
      }: _*)).as("b")): _*)
      .select(carry ++ Seq(col("id"), col("sig"), col("b.chunk"), col("b.ch")): _*)
    val a = chunked.as("a"); val b = chunked.as("b")
    val hamming = {
      val x = col("a.sig").bitwiseXOR(col("b.sig"))
      bit_count(x)
    }
    val joinCond = (keyCols.map(k => col(s"a.`$k`") === col(s"b.`$k`")) ++
      Seq(col("a.chunk") === col("b.chunk"), col("a.ch") === col("b.ch"),
        col("a.id") < col("b.id"))).reduce(_ && _)
    a.join(b, joinCond)
      .select(keyCols.map(k => col(s"a.`$k`").as(k)) ++
        Seq(col("a.id").as("id_a"), col("b.id").as("id_b"), hamming.as("hamming")): _*)
      .dropDuplicates(keyCols ++ Seq("id_a", "id_b"))
      .where(col("hamming") <= maxDist)
  }

  /** Scalable near-dup detection: MinHash-LSH blocking, then EXACT n-gram
    * Jaccard verification only on the blocked candidate pairs (per-pair
    * array_intersect/union of the two shingle sets — linear in pair count,
    * immune to the shingle-frequency skew that makes the full shingle
    * self-join quadratic on repetitive corpora).
    *
    * Recall is bounded by the banding probability at `threshold`; the
    * blocking threshold is loosened by 0.25 so borderline-exact pairs still
    * surface.
    */
  def ngramJaccardViaLsh(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.6,
      numHashes: Int = 64,
      bands: Int = 16
  ): DataFrame = {
    val blocked = minhashLshPairs(df, textCol, idCol, n, numHashes, bands,
      threshold = math.max(0.0, threshold - 0.25))
    // Exact shingle sets only for docs that appear in a blocked pair —
    // semi-join first, don't rebuild shingles for the whole corpus.
    val neededIds = blocked.select(col("id_a").as("__jid"))
      .union(blocked.select(col("id_b"))).distinct()
    val sets = df.join(neededIds, col(s"`$idCol`") === col("__jid"), "left_semi")
      .select(col(s"`$idCol`").as("__jid"),
        graft.functions.SketchExpressions.wordShingles(col(s"`$textCol`"), n).as("__sh"))
    blocked
      .join(sets.select(col("__jid").as("id_a"), col("__sh").as("__sh_a")), "id_a")
      .join(sets.select(col("__jid").as("id_b"), col("__sh").as("__sh_b")), "id_b")
      // Shingle arrays are distinct + binary-sorted (word_shingles), so
      // |A∪B| = |A|+|B|-|A∩B| and the sorted two-pointer kernel replaces
      // the array_intersect/array_union hash builds.
      .withColumn("__inter",
        graft.functions.SketchExpressions.sortedIntersectSize(col("__sh_a"), col("__sh_b"))
          .cast("double"))
      .withColumn("jaccard",
        col("__inter") / (size(col("__sh_a")) + size(col("__sh_b")) - col("__inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Connected components over a near-dup pair list: turns pairwise matches
    * into dedup CLUSTERS so one representative survives per cluster —
    * dropping `id_b` of every pair under-deletes on chains (a~b, b~c keeps
    * both b-dropped and c). @return (id, label) with label = cluster-min id.
    *
    * Hybrid execution: the edge list after LSH blocking is tiny relative to
    * the corpus, so up to `driverMaxEdges` edges are collected and solved
    * with union-find on the driver (microseconds, zero extra jobs); larger
    * graphs fall back to distributed min-label propagation
    * ([[connectedComponentsDistributed]]).
    */
  def connectedComponents(pairs: DataFrame, driverMaxEdges: Long = 5000000L): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val typed = pairs
      .select(col("id_a").cast("long").as("_1"), col("id_b").cast("long").as("_2"))
      .as[(Long, Long)]
    // Route decision via a COUNT probe, never a driver materialization:
    // limit(cap+1).count() is executor-side and O(cap) cheap, so when the
    // distributed path is taken nothing was collected at all, and the
    // hybrid path's collect is a typed primitive-tuple Dataset (specialized
    // Tuple2[Long, Long]) — no cap-sized array of boxed generic Rows ever
    // lands on the driver.
    //
    // The edge frame is PERSISTED across the probe: upstream is typically
    // an un-cached LSH/exact-verify pair search — the dominant cost of any
    // clustering-backed dedup — and without the cache the probe job and the
    // follow-up (collect or distributed propagation) would each execute
    // that pair search once, doubling the expensive stage. With the cache
    // every pair partition is computed exactly once, whichever path the
    // routing takes; the distributed path reads the same cached frame.
    typed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val overCap = typed.limit((driverMaxEdges + 1).toInt).count() > driverMaxEdges
      if (overCap)
        connectedComponentsDistributed(typed.toDF("id_a", "id_b"))
      else {
        val capped = typed.collect()
        // Driver union-find with path compression, min id as root label.
        val parent = scala.collection.mutable.Map.empty[Long, Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        capped.foreach { case (a, b) =>
          parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) { val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra); parent(hi) = lo }
        }
        val labels = parent.keys.toSeq.map(id => (id, find(id)))
        spark.createDataset(labels).toDF("id", "label")
      }
    } finally typed.unpersist()
    // Safe to unpersist before the caller consumes the result: the hybrid
    // path's frame is driver-local data and the distributed path returns a
    // localCheckpoint'd frame with no lineage back to the cached edges.
  }

  /** Distributed min-label propagation with pointer jumping (driver-looped
    * until converged) — the fallback for edge lists too large to collect.
    *
    * Plain one-hop propagation needs diameter-many iterations, so chains
    * longer than the cap would silently split into multiple clusters
    * (under-dedup). Each iteration here combines the one-hop neighbor-min
    * with a pointer jump (`label(x) <- label(label(x))`, valid because
    * labels are always node ids), which halves remaining chain depth —
    * O(log diameter) iterations overall. Convergence is CHECKED: if the
    * defensive cap is ever hit unconverged (2^maxIter-diameter graph), this
    * throws instead of returning split clusters.
    */
  def connectedComponentsDistributed(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache()
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id")).transform(Stages.cut)
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      val neighborMin = edges
        .join(labels.withColumnRenamed("id", "dst2"), col("dst") === col("dst2"))
        .groupBy(col("src").as("id")).agg(min("label").as("nbr_label"))
      // localCheckpoint truncates LINEAGE each iteration — the jump join
      // references oneHop twice, so without truncation the logical plan
      // (and driver memory for it) grows 4x per iteration.
      val oneHop = labels.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
        .transform(Stages.cut)
      val next = oneHop.as("a")
        .join(oneHop.select(col("id").as("jid"), col("label").as("jlabel")).as("j"),
          col("a.label") === col("jid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.label"), coalesce(col("jlabel"), col("a.label"))).as("label"))
        .transform(Stages.cut)
      converged = next.join(labels.withColumnRenamed("label", "old_label"), "id")
        .where(col("label") =!= col("old_label")).limit(1).count() == 0
      labels = next
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components unconverged after $maxIter iterations — " +
          "graph diameter exceeds 2^maxIter; raise maxIter")
    // labels is localCheckpoint'd (no lineage back to the edge cache), so
    // the iteration-scoped cache releases here instead of leaking one
    // edge frame per call.
    edges.unpersist()
    labels
  }

  /** Shingle frame shared by the exact-Jaccard family: (id, sh, n_sh) with
    * BLANK/whitespace-only docs dropped — they carry no content to be
    * near-duplicate OF, and the kernel's blank rendering is a single ""
    * shingle (the DuckDB split mirror), so a size guard alone would let
    * every blank doc pair with every other blank doc at Jaccard 1.0: a
    * semantic wrong AND a quadratic blowup on a corpus with many empty
    * rows (caught by the randomized parity property, round 10). Exact
    * identity of blank docs is [[exactByFingerprint]]'s job.
    */
  private def shingleFrame(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame =
    df.where(col(s"`${textCol}`").isNotNull &&
        length(trim(col(s"`${textCol}`"))) > 0)
      .select(col(s"`${idCol}`").as("id"),
        graft.functions.SketchExpressions.wordShingles(col(s"`${textCol}`"), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .where(col("n_sh") > 0)

  /** Exact n-gram Jaccard pairs via AllPairs-style PREFIX FILTERING — the
    * 100 TB path for exact similarity join (Bayardo et al., WWW'07 /
    * Chaudhuri et al., ICDE'06 pattern, re-derived for Spark).
    *
    * Order every doc's shingles by ascending global document frequency
    * (rarest first, shingle string tie-break). For Jaccard >= t, a pair
    * must overlap by ceil(t*max(|A|,|B|)) >= ceil(t*|X|) for each side X,
    * so under any GLOBAL total order the (|X| - ceil(t*|X|) + 1)-prefixes
    * of both sides must intersect: joining PREFIXES only is complete.
    * The inverted index thus holds the rarest ~(1-t) fraction of each
    * doc's shingles — and because they are globally rarest, bucket sizes
    * (the quadratic term) collapse precisely where [[ngramJaccardPairs]]
    * blows up (stopword-like shingles shared by half the corpus).
    * Candidates are then verified EXACTLY from the full shingle arrays
    * (one codegen'd array_intersect per candidate, no second index pass).
    *
    * Costs: +1 small agg (doc frequencies) joined back onto the exploded
    * shingles (AQE promotes it to a broadcast join while the vocabulary
    * fits, and keeps a shuffle join at corpus scale where a shingle df map
    * is NOT broadcastable) vs a candidate set shrunk by orders of magnitude
    * at corpus scale. Spec-enforced equal to [[ngramJaccardPairs]].
    *
    * The shingle frame is consumed three times (df ranking, candidate
    * generation, exact verification), so it is persisted — without it every
    * consumer re-runs the regex shingle kernel over the source (VERDICT r2
    * finding #3: the dominant cost at sf0.1). MEMORY_AND_DISK, evicted LRU;
    * recompute on miss is correct, just slower.
    */
  def ngramJaccardPrefixFiltered(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.6
  ): DataFrame = {
    val sh = shingleFrame(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Frames.own(df.sparkSession, sh)
    val exploded = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    // Global document frequency per shingle (the ordering key).
    val dfreq = exploded.groupBy("s").agg(count(lit(1)).as("df"))
    prefixFilteredFrom(sh, exploded, dfreq, threshold)
  }

  /** Prefix-filter body over prepared frames, so the skew-guarded
    * [[ngramJaccardPairs]] can reuse its already-persisted shingles and the
    * document-frequency aggregate it computed for the guard decision.
    */
  private def prefixFilteredFrom(
      sh: DataFrame,
      exploded: DataFrame,
      dfreq: DataFrame,
      threshold: Double
  ): DataFrame = {
    // Rarest-first rank within each doc; keep the prefix
    // |X| - ceil(t*|X|) + 1. ceil(t*x) = -floor(-t*x) avoids fp drift.
    val prefixLen = (col("n_sh") - ceil(col("n_sh") * threshold) + 1).cast("int")
    val ranked = exploded.join(dfreq, "s")
      .withColumn("rk", row_number().over(
        Window.partitionBy("id").orderBy(col("df").asc, col("s").asc)))
      .where(col("rk") <= prefixLen)
      .select("id", "s")

    val ca = ranked.as("a"); val cb = ranked.as("b")
    val candidates = ca.join(cb,
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")

    // Exact verification from the full shingle arrays — word_shingles emits
    // them binary-sorted, so the codegen'd two-pointer sorted_intersect_size
    // kernel does O(|A|+|B|) per pair with no per-row hash-set build.
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("na"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"), col("n_sh").as("nb"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("inter",
        graft.functions.SketchExpressions.sortedIntersectSize(col("sh_a"), col("sh_b")))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Containment pairs: documents whose ENTIRE shingle set appears inside
    * another document's (directed: id_a contained in id_b). The dedup case
    * a symmetric Jaccard threshold misses — a short document fully embedded
    * in a longer one (quotes, concatenated crawls, boilerplate wrappers)
    * has LOW Jaccard but is pure redundancy for training.
    *
    * A pair is containment iff the shared-shingle count equals
    * |shingles(A)|. The join is directed (a != b, not a < b) so mutual
    * containment (equal shingle sets) emits both directions.
    */
  def containmentPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3
  ): DataFrame = {
    // RAREST-SHINGLE index — the containment-specific prefix filter, and
    // strictly better than the full posting self-join: A ⊆ B requires
    // EVERY shingle of A in B, so A's single globally-rarest shingle
    // must be among B's postings — indexing ONE row per contained-side
    // doc is complete. Candidates collapse from Σ df² (quadratic in the
    // hottest posting, the q38 failure mode) to Σ rarest-df, and the
    // boilerplate shingles that blow up the naive join are exactly the
    // ones this index never picks. Verification is one codegen'd
    // sorted-merge intersect per candidate: |A∩B| == |A|.
    val sh = shingleFrame(df, textCol, idCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.core.Frames.own(df.sparkSession, sh)
    val exploded = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfreq = exploded.groupBy("s").agg(count(lit(1)).as("df"))
    val rarest = exploded.join(dfreq, "s")
      .groupBy("id")
      .agg(min(struct(col("df"), col("s"))).getField("s").as("s"))
    val candidates = rarest.as("a")
      .join(exploded.as("b"),
        col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"), col("n_sh").as("na"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    candidates.join(shA, "id_a").join(shB, "id_b")
      .withColumn("n_common",
        graft.functions.SketchExpressions.sortedIntersectSize(col("sh_a"), col("sh_b"))
          .cast("long"))
      .where(col("n_common") === col("na"))
      .select("id_a", "id_b", "n_common")
  }

  /** The naive full posting self-join formulation of [[containmentPairs]] —
    * kept as the spec baseline the rarest-shingle index is proven against.
    */
  private[graft] def containmentPairsIndexJoin(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3
  ): DataFrame = {
    val sh = shingleFrame(df, textCol, idCol, n)
    val exploded = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
    val a = exploded.as("a"); val b = exploded.as("b")
    a.join(b, col("a.s") === col("b.s") && col("a.id") =!= col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"))
      .agg(count(lit(1)).as("n_common"))
      .where(col("n_common") === col("na"))
      .select("id_a", "id_b", "n_common")
  }

  /** EXACT n-gram Jaccard pairs via the inverted shingle index: explode
    * shingles, self-join on the shingle, count intersections via groupBy.
    * COMPLETE for any threshold > 0 (a qualifying pair shares at least one
    * shingle) — one shuffle on the shingle, no quadratic scan.
    *
    * SKEW GUARD: the index self-join is quadratic in the hottest shingle's
    * posting length (a boilerplate shingle shared by d docs alone emits
    * d·(d-1)/2 candidate rows — license headers and templated pages hit
    * exactly this). Before joining, the operator computes per-shingle
    * document frequencies; if the hottest posting exceeds `maxPostingLen`
    * it routes the SAME inputs through the AllPairs prefix filter
    * ([[ngramJaccardPrefixFiltered]]'s body, spec- and oracle-equal),
    * which indexes only each doc's globally-rarest shingles and so
    * collapses precisely the buckets that blow up here. The default cap
    * (1024) bounds any single shingle's candidate contribution at ~0.5M
    * pairs. The guard costs one df aggregation — reused as the prefix
    * filter's ordering key when it trips; ≤0 disables the guard (and the
    * extra aggregation) entirely.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      threshold: Double = 0.6,
      maxPostingLen: Long = 1024L
  ): DataFrame = {
    if (maxPostingLen <= 0) {
      val exploded = shingleFrame(df, textCol, idCol, n)
        .select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      invertedIndexJaccard(exploded, threshold)
    } else {
      val sh = shingleFrame(df, textCol, idCol, n)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val exploded = sh.select(col("id"), col("n_sh"), explode(col("sh")).as("s"))
      val dfreq = exploded.groupBy("s").agg(count(lit(1)).as("df"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val maxRow = dfreq.agg(max(col("df"))).head()
      val maxDf  = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
      graft.core.Frames.own(df.sparkSession, sh, dfreq)
      if (maxDf > maxPostingLen) prefixFilteredFrom(sh, exploded, dfreq, threshold)
      else invertedIndexJaccard(exploded, threshold)
    }
  }

  /** The naive exact inverted-index join (the pre-guard q38 plan). */
  private def invertedIndexJaccard(exploded: DataFrame, threshold: Double): DataFrame = {
    val a = exploded.as("a"); val b = exploded.as("b")
    val inter = a.join(b, col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n_sh").as("na"), col("b.n_sh").as("nb"))
      .agg(count("*").as("inter"))
    inter
      .withColumn("jaccard",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** QUALITY-AWARE survivor selection over near-dup clusters: cluster
    * the pair evidence with [[connectedComponents]] and keep exactly
    * one doc per cluster — the highest `scoreCol`, ties broken by
    * lowest id (the keep-lowest-id rule is the scoreCol=constant
    * special case). Docs appearing in no pair are their own singleton
    * cluster and always survive. Output: the surviving docs' columns
    * plus `cluster_label` (cluster-min id).
    *
    * The standard dedup convention keeps the lowest id, which throws
    * away information when cluster members differ in quality (a clean
    * page and its boilerplate-ridden re-crawl are near-dups; keeping
    * by id is a coin flip). Shape: the CC labels frame (pair-sized)
    * joins the corpus on id — AQE broadcasts it in the common case —
    * and the survivor cut is one window partitioned by cluster label
    * (bounded per cluster; the rank-1 cut rides the WindowGroupLimit
    * pushdown like every other top-1 in the engine).
    */
  def keepBestPerCluster(docs: DataFrame, pairs: DataFrame, idCol: String,
                         scoreCol: String): DataFrame = {
    val labels = connectedComponents(pairs)
      .select(col("id").as("__cc_id"), col("label").as("__cc_label"))
    val labeled = docs
      .join(labels, col(s"`$idCol`") === col("__cc_id"), "left")
      .withColumn("cluster_label",
        coalesce(col("__cc_label"), col(s"`$idCol`").cast("long")))
      .drop("__cc_id", "__cc_label")
    val w = Window.partitionBy("cluster_label")
      .orderBy(col(s"`$scoreCol`").desc, col(s"`$idCol`").asc)
    labeled.withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .drop("__rk")
  }
}
