package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-corpus construction.
  *
  * `df.sample()` is seed-dependent per partition layout — re-running a
  * pipeline or re-partitioning the corpus yields a DIFFERENT sample, which
  * breaks reproducible dataset builds. Hash sampling keys the decision on
  * the ROW (md5 of its id), so the sample is a pure function of the data:
  * stable across runs, partitionings, engines (the DuckDB oracle mirrors
  * it verbatim), and incrementally consistent (a doc's in/out decision
  * never changes as the corpus grows — exactly what an append-only
  * training-data pipeline needs). Uniform within every stratum by
  * construction, so stratified sampling needs no per-stratum machinery.
  * Zero shuffle: the predicate is map-side.
  */
object Sampling {

  /** 32-hex-digit threshold such that P[md5(x) < threshold] = fraction
    * under the uniform-hex-string model (base-16 expansion of the
    * fraction).
    */
  def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0)
    val sb = new StringBuilder
    var f = BigDecimal(fraction)   // exact base-16 expansion, no FP drift
    (1 to 32).foreach { _ =>
      f *= 16
      val d = math.min(15, f.toInt)
      sb.append(java.lang.Integer.toHexString(d))
      f -= d
    }
    sb.toString
  }

  /** Keep each row with probability `fraction`, deterministically keyed on
    * `idCol`. Map-side filter; survives re-partitioning and re-runs.
    */
  def byHash(df: DataFrame, idCol: String, fraction: Double): DataFrame =
    df.where(md5(col(s"`$idCol`").cast("string")) < lit(hexThreshold(fraction)))

  /** The sampling predicate as a Column (for composing into larger
    * filters without materializing an intermediate frame).
    */
  def byHashPredicate(idCol: Column, fraction: Double): Column =
    md5(idCol.cast("string")) < lit(hexThreshold(fraction))

  /** WEIGHTED STRATIFIED sampling — the corpus-MIXING primitive of a
    * training-data pipeline ("30% of web, 100% of books, 5% of logs"):
    * each stratum keeps its own deterministic hash fraction, as one
    * map-side CASE predicate over the broadcast-free weights literal.
    * Strata absent from `fractions` fall back to `defaultFraction`
    * (0 = drop unknown sources — the safe default for curated mixes).
    * Same reproducibility contract as [[byHash]]: the decision is a pure
    * function of (id, stratum weights); re-partitioning, re-running, or
    * growing the corpus never flips a row, so mixture re-builds are
    * incremental by construction. Zero shuffle.
    */
  def stratifiedByHash(
      df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0
  ): DataFrame = {
    val h = md5(col(s"`$idCol`").cast("string"))
    val pred = fractions.toSeq.sortBy(_._1).foldLeft(
      when(lit(false), lit(false))) { case (acc, (stratum, f)) =>
        acc.when(col(s"`$strataCol`") === stratum, h < lit(hexThreshold(f)))
      }.otherwise(h < lit(hexThreshold(defaultFraction)))
    df.where(pred)
  }

  /** TOKEN-BUDGET stratified sampling — fill each stratum to a token
    * budget in deterministic hash order ("2B tokens of web, 500M of
    * code"): the mixture primitive when targets are TOKEN shares, not
    * row fractions (rows are a poor proxy when doc lengths differ
    * across sources). A row is kept iff the cumulative `lenCol` of its
    * stratum's (md5(id), id)-ordered prefix, the row itself included,
    * stays within the stratum's budget.
    *
    * Deterministic and engine-reproducible (pure function of data +
    * budgets; the DuckDB oracle mirrors it as a window cumsum) but —
    * unlike [[byHash]] — NOT append-stable: budget filling is
    * prefix-dependent by definition, so re-filling after corpus growth
    * can rotate the tail. Fraction sampling keeps decisions stable;
    * budget sampling keeps the TOTAL stable. Pick per use case.
    *
    * Scale shape (the [[graft.operators.Packing]] prefix-sum idea
    * applied per stratum — a naive window over each stratum would sort
    * every stratum in ONE partition):
    *   1. each row keys to one of 256 hash-prefix buckets (map-side);
    *   2. per-(stratum, bucket) token sums — one partial-agged keyed
    *      shuffle producing strata×256 rows;
    *   3. bucket prefix sums over that tiny aggregate classify each
    *      bucket: fully inside the budget (rows pass with no sort),
    *      fully outside (rows drop at the broadcast join), or the ONE
    *      boundary bucket per stratum;
    *   4. only boundary-bucket rows (~1/256 of a stratum) sort at doc
    *      granularity — the stratum never funnels through a partition.
    */
  def byTokenBudget(
      df: DataFrame, strataCol: String, idCol: String, lenCol: String,
      budgets: Map[String, Long],
      defaultBudget: Long = 0L
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The working columns below live in the caller's namespace until the
    // final re-select; a colliding input column would be silently
    // overwritten (corrupting the caller's data), so refuse instead.
    require(df.columns.forall(!_.startsWith("__tb_")),
      s"byTokenBudget reserves the __tb_ column prefix; input has " +
        df.columns.filter(_.startsWith("__tb_")).mkString(", "))
    val st = col(s"`$strataCol`")
    val id = col(s"`$idCol`")
    val len = coalesce(col(s"`$lenCol`").cast("long"), lit(0L))
    // hex chars sort 0-9 < a-f in ASCII, so ordering by the bucket index
    // (first 2 hex digits) then the full hash IS the hash order.
    val withKeys = df
      .withColumn("__tb_h", md5(id.cast("string")))
      .withColumn("__tb_b", conv(substring(col("__tb_h"), 1, 2), 16, 10).cast("int"))
    val budgetOf = budgets.toSeq.sortBy(_._1).foldLeft(when(lit(false), lit(0L))) {
      case (acc, (stratum, b)) => acc.when(col("__tb_s") === stratum, lit(b))
    }.otherwise(lit(defaultBudget))
    val wBucket = Window.partitionBy("__tb_s").orderBy("__tb_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val meta = withKeys
      .groupBy(st.as("__tb_s"), col("__tb_b")).agg(sum(len).as("__tb_sum"))
      .withColumn("__tb_before", coalesce(sum(col("__tb_sum")).over(wBucket), lit(0L)))
      .withColumn("__tb_budget", budgetOf)
      .withColumn("__tb_keep_all",
        col("__tb_before") + col("__tb_sum") <= col("__tb_budget"))
      .withColumn("__tb_boundary",
        !col("__tb_keep_all") && col("__tb_before") < col("__tb_budget"))
      .where(col("__tb_keep_all") || col("__tb_boundary"))
    // Null-safe stratum equality: a NULL stratum is a legitimate group
    // (it gets defaultBudget, matching the defining window's NULL
    // partition) — a plain equi-join would silently drop every such row.
    val joined = withKeys.as("r").join(broadcast(meta.as("m")),
        col(s"r.`$strataCol`") <=> col("m.__tb_s") &&
          col("r.__tb_b") === col("m.__tb_b"))
      .select(df.columns.map(c => col(s"r.`$c`")) ++ Seq(
        col("r.__tb_h"), col("r.__tb_b").as("__tb_bb"), col("m.__tb_before"),
        col("m.__tb_budget"), col("m.__tb_keep_all"), col("m.__tb_boundary")): _*)
    val wDoc = Window.partitionBy(st, col("__tb_bb")).orderBy(col("__tb_h"), id)
    val kept = joined.where(col("__tb_keep_all"))
      .unionByName(joined.where(col("__tb_boundary"))
        .withColumn("__tb_cum", sum(len).over(wDoc))
        .where(col("__tb_before") + col("__tb_cum") <= col("__tb_budget"))
        .drop("__tb_cum"))
    kept.select(df.columns.map(c => col(s"`$c`")): _*)
  }

  /** EPOCH-WEIGHTED mixture filling — the UPSAMPLING half of corpus
    * mixing that [[byTokenBudget]] (a pure downsampler) cannot express:
    * when a stratum's budget exceeds its token count, real mixtures
    * repeat the small high-quality source for several epochs ("books ×3,
    * wiki ×4") rather than leaving its budget share unfilled.
    *
    * Each row is emitted once per epoch it participates in, with a
    * 1-based `epochCol`. The defining rule is a single inequality: row
    * d of stratum s (budget B, stratum token total T, hash-ordered
    * inclusive prefix sum cum(d)) appears at epoch k iff
    *
    *   (k-1)*T + cum(d) <= B   and   k <= maxEpochs
    *
    * which reproduces every regime at once — T >= B degrades to
    * [[byTokenBudget]] (only the k=1 prefix fits), T < B yields
    * floor((B-cum)/T)+1 epochs capped at `maxEpochs` (full passes plus
    * one fractional hash-prefix pass), and an all-zero-token stratum
    * (T=0, every cum=0) replicates `maxEpochs` times. Deterministic and
    * engine-reproducible like [[byTokenBudget]] (the DuckDB oracle is
    * the same inequality over a window cumsum + generate_series).
    *
    * Scale shape — the [[byTokenBudget]] 256-bucket prefix sum,
    * generalized from ONE budget line to `maxEpochs` of them: the epoch
    * count n(c) = |{k : (k-1)T + c <= B}| is antitone in c, so a bucket
    * whose cum interval [before, before+sum] crosses no budget line
    * (n(before) == n(before+sum)) takes its epoch count as a constant
    * with NO doc-granularity work; only the <= maxEpochs line-crossing
    * buckets per stratum sort at doc granularity. A stratum never
    * funnels through a single partition, and the fan-out itself is a
    * map-side `explode(sequence)`.
    */
  def epochsToBudget(
      df: DataFrame, strataCol: String, idCol: String, lenCol: String,
      budgets: Map[String, Long],
      maxEpochs: Int = 4,
      defaultBudget: Long = 0L,
      epochCol: String = "epoch"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxEpochs >= 1, s"maxEpochs must be >= 1, got $maxEpochs")
    require((budgets.values ++ Seq(defaultBudget)).forall(_ >= 0L),
      "budgets must be non-negative")
    require(df.columns.forall(!_.startsWith("__tb_")),
      s"epochsToBudget reserves the __tb_ column prefix; input has " +
        df.columns.filter(_.startsWith("__tb_")).mkString(", "))
    require(!df.columns.contains(epochCol),
      s"epoch column '$epochCol' collides with an input column")
    val st = col(s"`$strataCol`")
    val id = col(s"`$idCol`")
    val len = coalesce(col(s"`$lenCol`").cast("long"), lit(0L))
    // Epoch count at inclusive prefix sum c: antitone, exact integer
    // arithmetic — (B-c) - pmod(B-c, T) is an exact multiple of T, so the
    // division is exact in double well past any real token budget (< 2^53).
    def nEpochs(c: Column, budget: Column, tot: Column): Column =
      when(c > budget, lit(0))
        .when(tot === 0L, lit(maxEpochs))
        .otherwise(least(lit(maxEpochs.toLong),
          (((budget - c) - pmod(budget - c, tot)) / tot).cast("long") + 1L))
        .cast("int")
    val withKeys = df
      .withColumn("__tb_h", md5(id.cast("string")))
      .withColumn("__tb_b", conv(substring(col("__tb_h"), 1, 2), 16, 10).cast("int"))
    val budgetOf = budgets.toSeq.sortBy(_._1).foldLeft(when(lit(false), lit(0L))) {
      case (acc, (stratum, b)) => acc.when(col("__tb_s") === stratum, lit(b))
    }.otherwise(lit(defaultBudget))
    val wBucket = Window.partitionBy("__tb_s").orderBy("__tb_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wStratum = Window.partitionBy("__tb_s")
    val meta = withKeys
      .groupBy(st.as("__tb_s"), col("__tb_b")).agg(sum(len).as("__tb_sum"))
      .withColumn("__tb_before", coalesce(sum(col("__tb_sum")).over(wBucket), lit(0L)))
      .withColumn("__tb_tot", sum(col("__tb_sum")).over(wStratum))
      .withColumn("__tb_budget", budgetOf)
      .withColumn("__tb_ne_lo",
        nEpochs(col("__tb_before"), col("__tb_budget"), col("__tb_tot")))
      .withColumn("__tb_ne_hi",
        nEpochs(col("__tb_before") + col("__tb_sum"), col("__tb_budget"), col("__tb_tot")))
      // A bucket whose START already clears every budget line contributes
      // nothing — its rows drop at the inner join below.
      .where(col("__tb_ne_lo") >= 1)
    val joined = withKeys.as("r").join(broadcast(meta.as("m")),
        col(s"r.`$strataCol`") <=> col("m.__tb_s") &&
          col("r.__tb_b") === col("m.__tb_b"))
      .select(df.columns.map(c => col(s"r.`$c`")) ++ Seq(
        col("r.__tb_h"), col("r.__tb_b").as("__tb_bb"), col("m.__tb_before"),
        col("m.__tb_budget"), col("m.__tb_tot"),
        col("m.__tb_ne_lo"), col("m.__tb_ne_hi")): _*)
    val wDoc = Window.partitionBy(st, col("__tb_bb")).orderBy(col("__tb_h"), id)
    val uniform = joined.where(col("__tb_ne_lo") === col("__tb_ne_hi"))
      .withColumn("__tb_ne", col("__tb_ne_lo"))
    val boundary = joined.where(col("__tb_ne_lo") =!= col("__tb_ne_hi"))
      .withColumn("__tb_cum", col("__tb_before") + sum(len).over(wDoc))
      .withColumn("__tb_ne",
        nEpochs(col("__tb_cum"), col("__tb_budget"), col("__tb_tot")))
      .drop("__tb_cum")
    uniform.unionByName(boundary)
      .where(col("__tb_ne") >= 1)
      .withColumn(epochCol, explode(sequence(lit(1), col("__tb_ne"))))
      .select(df.columns.map(c => col(s"`$c`")) :+ col(s"`$epochCol`"): _*)
  }

  /** SCORE-PROPORTIONAL (soft) sampling: keep each row with its OWN
    * probability, read from `probCol` (clamped to [0,1]) — the CCNet-ish
    * "retain in proportion to quality" knob, where hard thresholds are
    * too blunt (a 0.49-scoring doc shouldn't always lose to a 0.51).
    * The uniform draw is the engine's standard md5 dyadic rational
    * ((conv(md5(id ":" seed)[0,8), 16) + 0.5) / 2³²) — the
    * [[graft.operators.Selection]] noise convention — so the decision
    * is a pure function of (id, seed, probability): reproducible across
    * runs, partitionings, and engines, and append-stable like
    * [[byHash]]. Map-side predicate, zero shuffle, zero state.
    */
  def byScoreProbability(df: DataFrame, idCol: String, probCol: String,
                         seed: Long = 0L): DataFrame =
    df.where(byScoreProbabilityPredicate(
      col(s"`$idCol`"), col(s"`$probCol`"), seed))

  /** The soft-sampling predicate as a Column (for composing). */
  def byScoreProbabilityPredicate(id: Column, prob: Column,
                                  seed: Long): Column = {
    val u = (conv(substring(md5(concat(id.cast("string"), lit(s":$seed"))),
        1, 8), 16, 10).cast("double") + 0.5) / 4294967296.0
    u < least(lit(1.0), greatest(lit(0.0), prob.cast("double")))
  }

  /** Exact per-stratum TOP-FRACTION selection by score ("keep each
    * domain's best 25% by quality"): per stratum g with n_g rows, keeps
    * the ceil(fraction * n_g) highest rows under the total order
    * (score DESC, id ASC) — the per-group-QUANTILE filter of a quality
    * pipeline, complementary to [[graft.functions.GroupSample
    * .topKPerGroupByScore]] (fixed small k): here k_g is a data-dependent
    * FRACTION of the stratum, far beyond any bounded-k aggregator.
    *
    * Scale shape — the [[byTokenBudget]] bucket trick transposed from
    * hash order to SCORE order: a tiny per-stratum pass computes
    * (n_g, min, max) score bounds; every row then maps to one of 256
    * descending score-range buckets (map-side, broadcast stats join);
    * per-(stratum, bucket) counts + a prefix sum classify buckets as
    * fully-kept, fully-dropped, or the ONE rank-boundary bucket, and
    * only that bucket (~1/256 of the stratum) ranks at doc granularity.
    * Bucket order respects score order (equal scores share a bucket;
    * the id tiebreak only ever applies within a bucket), so the result
    * is EXACTLY the defining window row_number — without ever sorting a
    * whole stratum in one partition. Degenerate case: an all-equal-score
    * stratum collapses to one bucket and ranks fully (documented; it is
    * also the only case that needs the full tiebreak).
    *
    * `fraction` should be exactly representable in binary (0.25, 0.5,
    * 0.125…) so ceil(fraction*n) is bit-identical across engines; scores
    * must be non-null and non-NaN (NULL/NaN ordering differs across
    * engines, and NaN poisons the min/max bucket bounds) — filter or
    * coalesce first, as [[graft.functions.GroupSample]] does.
    */
  def topFractionByScore(
      df: DataFrame, strataCol: String, idCol: String, scoreCol: String,
      fraction: Double
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fraction > 0.0 && fraction <= 1.0, s"fraction in (0,1], got $fraction")
    val id = col(s"`$idCol`")
    val score = col(s"`$scoreCol`").cast("double")
    val j = scoreBucketed(df, strataCol, scoreCol)
    val k = ceil(lit(fraction) * col("__tf_n"))
    val keepAll = col("__tf_before") + col("__tf_cnt") <= k
    val boundary = !keepAll && col("__tf_before") < k
    val wDoc = Window.partitionBy(col("__tf_s"), col("__tf_b"))
      .orderBy(score.desc, id.asc)
    val kept = j.where(keepAll)
      .unionByName(j.where(boundary)
        .withColumn("__tf_rk", row_number().over(wDoc))
        .where(col("__tf_before") + col("__tf_rk") <= k)
        .drop("__tf_rk"))
    kept.select(df.columns.map(c => col(s"`$c`")): _*)
  }

  /** Per-stratum PERCENTILE TIERING ("head / middle / tail by LM score",
    * the CCNet bucketing): label every row with the tier its rank under
    * (score DESC, id ASC) falls into — `labels` is ordered (name,
    * fraction), rank r takes the first label whose cumulative
    * ceil(c·n_g) bound covers it, and the LAST label absorbs the
    * remainder to 1.0. Labeling, not filtering: downstream mixes stream
    * each tier at its own rate (head to pre-training, tail to filtering
    * review) without re-ranking.
    *
    * Same machinery and exactness argument as [[topFractionByScore]],
    * generalized from one rank line to `labels.size - 1` of them: a
    * score-range bucket whose rank interval crosses no tier boundary
    * takes its label as a CONSTANT (no doc-granularity work); only the
    * ≤ labels.size-1 boundary-crossing buckets per stratum rank at doc
    * granularity. Same caveats: binary-exact fractions, non-null
    * non-NaN scores.
    */
  def percentileBuckets(
      df: DataFrame, strataCol: String, idCol: String, scoreCol: String,
      labels: Seq[(String, Double)], tierCol: String = "tier"
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(labels.size >= 2, "at least two tiers required")
    require(labels.forall(_._2 > 0.0), "tier fractions must be > 0")
    val cum = labels.map(_._2).scanLeft(0.0)(_ + _).tail
    require(cum.last <= 1.0 + 1e-9, s"tier fractions sum to ${cum.last} > 1")
    require(!df.columns.contains(tierCol),
      s"tier column '$tierCol' collides with an input column")
    val id = col(s"`$idCol`")
    val score = col(s"`$scoreCol`").cast("double")
    val j = scoreBucketed(df, strataCol, scoreCol)
    def labelOf(r: Column): Column =
      labels.init.zip(cum.init).foldLeft(when(lit(false), lit(""))) {
        case (acc, ((name, _), c)) =>
          acc.when(r <= ceil(lit(c) * col("__tf_n")), lit(name))
      }.otherwise(lit(labels.last._1))
    val loLabel = labelOf(col("__tf_before") + 1)                    // bucket's first rank
    val hiLabel = labelOf(col("__tf_before") + col("__tf_cnt"))      // bucket's last rank
    val wDoc = Window.partitionBy(col("__tf_s"), col("__tf_b"))
      .orderBy(score.desc, id.asc)
    val uniform = j.where(loLabel === hiLabel).withColumn(tierCol, loLabel)
    val crossing = j.where(loLabel =!= hiLabel)
      .withColumn("__tf_rk", row_number().over(wDoc))
      .withColumn(tierCol, labelOf(col("__tf_before") + col("__tf_rk")))
      .drop("__tf_rk")
    uniform.unionByName(crossing)
      .select(df.columns.map(c => col(s"`$c`")) :+ col(s"`$tierCol`"): _*)
  }

  /** Shared core of the score-rank machinery: every row joined with its
    * stratum's (score-range bucket, rows-before-bucket count, bucket
    * count, stratum count) — all rank classification happens at bucket
    * granularity downstream; callers rank docs only inside buckets a
    * rank line crosses. Adds __tf_s/__tf_n/__tf_b/__tf_before/__tf_cnt
    * to the caller's columns. Descending score-range buckets: the index
    * is antitone in score and equal scores always share a bucket, so
    * cross-bucket order IS score order and the id tiebreak only ever
    * applies within one bucket.
    */
  private def scoreBucketed(df: DataFrame, strataCol: String,
                            scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(df.columns.forall(!_.startsWith("__tf_")),
      s"score-rank operators reserve the __tf_ column prefix; input has " +
        df.columns.filter(_.startsWith("__tf_")).mkString(", "))
    val st = col(s"`$strataCol`")
    val score = col(s"`$scoreCol`").cast("double")
    val stats = df.groupBy(st.as("__tf_s")).agg(
      count(lit(1)).as("__tf_n"),
      min(score).as("__tf_min"), max(score).as("__tf_max"))
    val bucket = when(col("s.__tf_max") === col("s.__tf_min"), lit(0))
      .otherwise(least(lit(255), floor(
        (col("s.__tf_max") - score) / (col("s.__tf_max") - col("s.__tf_min")) * 256)))
      .cast("int")
    val withB = df.as("r").join(broadcast(stats.as("s")),
        col(s"r.`$strataCol`") <=> col("s.__tf_s"))
      .select(df.columns.map(c => col(s"r.`$c`")) ++ Seq(
        col("s.__tf_s"), col("s.__tf_n"), bucket.as("__tf_b")): _*)
    val wBucket = Window.partitionBy("__tf_s").orderBy("__tf_b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val meta = withB.groupBy(col("__tf_s"), col("__tf_b"))
      .agg(count(lit(1)).as("__tf_cnt"))
      .withColumn("__tf_before", coalesce(sum(col("__tf_cnt")).over(wBucket), lit(0L)))
      .select(col("__tf_s").as("__tf_ms"), col("__tf_b").as("__tf_mb"),
        col("__tf_before"), col("__tf_cnt"))
    withB.join(broadcast(meta),
        col("__tf_s") <=> col("__tf_ms") && col("__tf_b") === col("__tf_mb"))
      .drop("__tf_ms", "__tf_mb")
  }

  /** Token-budget mixture allocation: given per-stratum token
    * availability and NORMALIZED target mixture weights, find the
    * largest total token count T ≤ `budget` achievable at exactly those
    * proportions without oversampling any stratum —
    * T* = min(budget, min_s avail_s / w_s) — and the per-stratum take
    * ⌊w_s·T*⌋ and sampling fraction to feed [[stratifiedByHash]]. The
    * planning step every mixture build runs ("web 70 / code 20 /
    * wiki 10 at 500B tokens — what fraction of each do I keep?"); a
    * stratum missing from `avail` pins T* to 0 (the mixture is
    * infeasible, and silently renormalizing would misreport it).
    *
    * Shape: weights are config (strata-sized) and left-join the
    * availability aggregate, which is broadcast (the non-preserved side
    * of the left join — the only side Spark can build); T* is ONE
    * double read on the driver (the centroid-read idiom) re-entering as
    * a literal — no 1-row
    * cross-join gate shape, no corpus access at all (callers pass the
    * already-aggregated per-stratum counts).
    */
  def mixtureAllocation(avail: DataFrame, stratumCol: String, tokensCol: String,
                        weights: Map[String, Double], budget: Long): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be non-empty and positive")
    require(math.abs(weights.values.sum - 1.0) < 1e-9,
      s"weights must be normalized, sum to ${weights.values.sum}")
    require(budget > 0, s"budget must be positive, got $budget")
    val spark = avail.sparkSession
    import spark.implicits._
    val joined = weights.toSeq.toDF("stratum", "weight")
      .join(broadcast(avail.select(col(s"`$stratumCol`").as("stratum"),
        col(s"`$tokensCol`").cast("long").as("n_avail"))), Seq("stratum"), "left")
      .select(col("stratum"), coalesce(col("n_avail"), lit(0L)).as("n_avail"),
        col("weight"))
    val tCap = joined
      .agg(min(col("n_avail").cast("double") / col("weight"))).head().getDouble(0)
    val tStar = math.min(budget.toDouble, tCap)
    val take = floor(col("weight") * lit(tStar))
    joined.select(col("stratum"), col("n_avail"),
      round(col("weight"), 6).as("weight"),
      take.cast("long").as("n_take"),
      round(when(col("n_avail") > 0, take / col("n_avail")).otherwise(lit(0.0)), 6)
        .as("fraction"))
  }
}
