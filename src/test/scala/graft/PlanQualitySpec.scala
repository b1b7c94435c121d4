package graft

import org.apache.spark.sql.execution.QueryExecution

/** Plan-shape regressions: the properties that matter at 100 TB must stay
  * in the plan — column-pruned scans, broadcast dimension joins, partial
  * (map-side) aggregation, pushed filters.
  */
class PlanQualitySpec extends SparkSuite {

  private def formatted(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf("sf0.01"))
    val qe: QueryExecution = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.FormattedMode)
  }

  test("q01 scan is column-pruned to the 5 referenced columns") {
    val plan = formatted("q01_agg_pricing")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_quantity", "l_extendedprice", "l_discount", "l_returnflag", "l_linestatus")
      .forall(readSchema.contains))
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_shipdate"))
  }

  test("q01 aggregation has a partial (map-side) phase") {
    assert(formatted("q01_agg_pricing").contains("partial_sum"))
  }

  test("q03 join chain broadcasts all dimension sides") {
    val plan = formatted("q03_join_chain")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3)
  }

  test("q08 pushes the not-null range-key filters into the scan") {
    val plan = formatted("q08_range_join")
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("IsNotNull(l_shipdate)"))
  }

  test("q107 language-mix scan is map-side: only the output sort exchanges") {
    // windows, per-window scoring, and disagreement counts are array
    // HOFs inside one projection — the operator itself adds no shuffle
    val plan = formatted("q107_lang_mix")
    assert(!plan.contains("hashpartitioning") && !plan.contains("SinglePartition"),
      plan)
    assert(plan.contains("rangepartitioning"))   // the output sort only
  }

  test("q115 URL canonicalization is map-side: only the output sort exchanges") {
    // the whole canonicalization (scheme/host/path/query regex pipeline)
    // is one projection of built-in expressions — no shuffle, no UDF
    val plan = formatted("q115_url_canonical")
    assert(!plan.contains("hashpartitioning") && !plan.contains("SinglePartition"),
      plan)
    assert(plan.contains("rangepartitioning"))   // the output sort only
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("q116 per-domain cap costs exactly one hash shuffle (the host window)") {
    val plan = formatted("q116_domain_cap")
    assert("hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(!plan.contains("SinglePartition"), plan)
    // Spark 4 rank-limit pushdown: the cap filters rank<=3 map-side
    // before the exchange, so a mega-domain ships <= cap rows per task
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q117 domain mixing is one map-side predicate + one aggregation shuffle") {
    val plan = formatted("q117_domain_mix")
    assert("hashpartitioning".r.findAllIn(plan).size === 1, plan)
    assert(plan.contains("partial_count"), plan)   // map-side combine
  }

  test("q135 link extraction is map-side: only the output sort exchanges") {
    // html_links + posexplode is one codegen'd generate — no shuffle,
    // no UDF
    val plan = formatted("q135_link_extract")
    assert(!plan.contains("hashpartitioning") && !plan.contains("SinglePartition"),
      plan)
    assert(plan.contains("rangepartitioning")) // the output sort only
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
  }

  test("q139 anchor docs: extraction map-side, one host-keyed aggregation shuffle") {
    val plan = formatted("q139_anchor_docs")
    // two hashpartitioning mentions = the two-phase (partial, merge)
    // exchange pair of the countDistinct rewrite on ONE grouping key;
    // no SinglePartition anywhere
    assert(!plan.contains("SinglePartition"), plan)
    assert(plan.contains("partial_count"), plan) // map-side combine
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q143 compression filter is map-side: only the output sort exchanges") {
    val plan = formatted("q143_compress_filter")
    assert(!plan.contains("hashpartitioning") && !plan.contains("SinglePartition"), plan)
    assert(plan.contains("rangepartitioning")) // the output sort only
    assert(plan.contains("deflate_ratio"))
  }

  test("q140 bloom prefilter sits in the scan stage; no single-partition exchange anywhere") {
    val plan = formatted("q140_bloom_decontaminate")
    assert(plan.contains("might_contain"), "bloom probe missing from plan")
    assert(!plan.contains("SinglePartition"), plan)
    // the probe is a Filter BELOW the verify join — i.e. the first
    // might_contain mention comes before the first SortMergeJoin/
    // ShuffledHashJoin mention in the formatted tree
    val probeAt = plan.indexOf("might_contain")
    val joinAt = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
      .map(plan.indexOf).filter(_ >= 0).min
    assert(probeAt >= 0 && joinAt >= 0)
  }

  test("q145 interleave: k=1 assignment carries a WindowGroupLimit cut") {
    val plan = formatted("q145_interleave")
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q119 n-gram table: one gram aggregation + rank-limit pushdown on the order window") {
    val plan = formatted("q119_ngram_table")
    // the per-order cut would be a maxOrder-partition exchange of EVERY
    // distinct gram without the pushdown; with it each map task ships
    // <= topK rows per order
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("partial_count"), plan)   // map-side gram combine
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("q120 hard negatives: anchors broadcast, rank-limit pushdown, no corpus shuffle before scoring") {
    val plan = formatted("q120_hard_negatives")
    assert(plan.contains("WindowGroupLimit"), plan)
    // the only hash exchange belongs to the per-anchor window (+ output
    // sort range partitioning); the corpus scores map-side under the
    // broadcast
    assert("hashpartitioning".r.findAllIn(plan).size === 1, plan)
  }

  test("q26 plans through the custom AsOfJoinExec") {
    assert(formatted("q26_asof_join").contains("AsOfJoin"))
  }

  test("q46 key-map remap broadcasts the mapping side (no shuffle of the fact)") {
    val plan = formatted("q46_keymap_remap")
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q53 salted aggregation is two-stage (partial on the salted key)") {
    val plan = formatted("q53_salted_agg")
    assert(plan.contains("partial_sum") || plan.contains("partial_count"))
    // two aggregate pairs: salted pre-agg + final de-salt agg
    assert("HashAggregate".r.findAllIn(plan).size >= 4)
  }

  test("q31 exact dedup costs exactly one hash shuffle (fingerprint window)") {
    val plan = formatted("q31_dedup_exact")
    assert("hashpartitioning".r.findAllIn(plan).size === 1)
    // Spark 4 inserts partial/final WindowGroupLimit around the shuffle —
    // rank<=1 filtering happens map-side, not after materializing groups.
    assert(plan.contains("row_number(), 1, Partial"))
    assert(plan.contains("row_number(), 1, Final"))
  }

  test("q40 ANN brute force is joinless map + top-k (no total sort)") {
    val plan = formatted("q40_ann_bruteforce")
    // probe vector inlined as a literal into a single scan->project pass,
    // top-k via TakeOrderedAndProject (per-partition heaps), never a
    // full sort of the corpus.
    assert(plan.contains("vec_dot"))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("Join"))
  }

  test("q36 minhash signatures are map-side (no shuffle before banding)") {
    val plan = formatted("q36_minhash_lsh")
    assert(plan.contains("minhash_sig"))
    // Signature computation adds no shuffle of its own: every Exchange in
    // the plan belongs to the LSH block self-join + pair-distinct (<=4) or
    // the exact-verification joins of the blocked candidates (semi-join +
    // two shingle-set joins + final filter; <=5). A shuffle feeding the
    // sketch kernel itself would push the count past this budget.
    assert("hashpartitioning".r.findAllIn(plan).size <= 9)
  }

  test("q11 dense-id minting has no single-partition exchange") {
    val plan = formatted("q11_surrogate_ids")
    // Ids.denseId sorts with a RANGE exchange and numbers that sorted RDD
    // with zipWithIndex while the query is built: the query plans over the
    // numbered RDD, with no window, no offsets join and no SinglePartition
    // exchange.
    assert(plan.contains("ExistingRDD"))
    assert(!plan.contains("Window"))
    assert(!plan.contains("SinglePartition"))
    assert(!plan.contains("monotonically_increasing_id"))
  }

  test("q61 containment runs the rarest-shingle index + sorted-merge verify") {
    val plan = formatted("q61_containment")
    // shingle kernel map-side; ONE index row per contained-side doc
    // (min-struct aggregate), verification via the codegen'd two-pointer
    // kernel — not a full posting self-join, no repartition creep.
    assert(plan.contains("word_shingles"))
    assert(plan.contains("sorted_intersect_size"))
    assert("hashpartitioning".r.findAllIn(plan).size <= 6)
  }

  test("q62 routes the degenerate-vocabulary corpus to the dense vec_dot join") {
    // 31-token vocab, no Zipf tail -> the adaptive probe must densify:
    // codegen'd vec_dot all-pairs, no inverted-index machinery in the plan.
    val plan = formatted("q62_token_cosine")
    assert(plan.contains("vec_dot"))
    assert(!plan.contains("token_dot"))
  }

  test("prefix-forced token cosine verifies with the codegen'd sorted-merge kernel") {
    // denseMaxVocab = 0 disables the dense probe: the prefix-index route
    // must keep its plan shape (token_dot kernel, sorted posting lists).
    val df = graft.operators.Similarity.tokenCosinePairsPrefix(
      Tables(spark, sf("sf0.01"), "documents"), "text", "doc_id",
      threshold = 0.9, denseMaxVocab = 0)
    val plan = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("token_dot"))          // not the interpreted HOF
    assert(plan.contains("sort_array"))         // posting lists token-sorted
    assert(plan.toLowerCase.contains("least"))  // normalized pair ordering
  }

  test("q69 stratified mixing is one map-side predicate + one aggregation shuffle") {
    val plan = formatted("q69_stratified_sample")
    // the per-stratum CASE predicate filters during the scan stage; the
    // only exchanges belong to the groupBy + tiny final sort — a
    // repartition or join here would mean the mixer stopped being
    // map-side.
    assert(!plan.contains("Join"))
    assert("hashpartitioning".r.findAllIn(plan).size === 1)
  }

  test("NO query plans a nested-loop or cartesian join, except gate broadcasts and q45") {
    // The engine's flagship scale claim: pair enumeration is never
    // all-pairs-shaped. Allowed exceptions, each deliberate and bounded:
    //  - the Gates crossJoins broadcast ONE-ROW aggregate frames
    //    (recall/parity/floor gates) — q37/q43/q56/q57/q59/q70,
    //  - q45's knnJoin crossJoin has a documented 10-row probe side.
    // Everything else must plan pure equi-joins. A new query that
    // reintroduces a BroadcastNestedLoopJoin outside this list fails here.
    val gateQueries = Set("q37_simhash", "q43_ann_lsh", "q52_corpus_pipeline",
      "q56_ann_ivf", "q57_incremental_dedup", "q59_ann_pq", "q70_cosine_banded",
      "q74_semdedup", "q45_knn_join", "q82_release_pipeline",
      "q87_incremental_release",
      // q114 is q82's all-optional-stages variant: the SAME single 1-row
      // LM-floor gate broadcast, nothing new
      "q114_release_all_stages",
      // q123's parity gate broadcasts a 1-row mismatch count (the q87
      // idiom); the anchors side of q120's exact hard-negative scan is a
      // deliberate small-side broadcast
      "q123_bpe_merges", "q120_hard_negatives",
      // q128/q130 are setParity-gated (the same single 1-row mismatch
      // broadcast); their serving variants plan pure equi-joins
      "q128_crawl_release", "q130_bpe_encode",
      // q137's gate broadcasts a 1-row mismatch count AND a 1-row max
      // score gap; q138's PageRank broadcasts the 1-row dangling-mass
      // aggregate once per unrolled iteration (3)
      "q137_bm25_disk", "q138_pagerank",
      // q145's interleave assigns via knnJoin's documented exact
      // crossJoin route — the 50-row chunk side is the broadcast side
      // (the q45 rationale; corpus scale swaps stage 1 for IVF probes)
      "q145_interleave",
      // q153's max-score gate is the q128 idiom: ONE 1-row mismatch-
      // count broadcast from setParityOn; the serving variant (the
      // pruned route alone) plans pure equi-joins
      "q153_bm25_maxscore",
      // q155/q156 are q137's bucketed+compacted variants (q156 = the
      // max-score composition): the same two-sided gate (1-row mismatch
      // count + 1-row max score gap)
      "q155_bm25_bucketed", "q156_bm25_bucketed_maxscore",
      // q165's incremental-vs-one-shot gate is the q128/q153 idiom: ONE
      // 1-row mismatch-count broadcast from setParityOn; the serving
      // variant plans pure equi-joins
      "q165_incremental_paradedup")
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(gateQueries)
      .filter { name =>
        val plan = formatted(name)
        plan.contains("BroadcastNestedLoopJoin") || plan.contains("CartesianProduct")
      }
    assert(offenders.isEmpty, s"nested-loop joins in: ${offenders.mkString(", ")}")
    // and the allowed ones carry at most ONE such operator (the 1-row
    // gate broadcast / the bounded probe crossJoin) — except q74/q137,
    // whose two-sided gates join two 1-row check aggregates, and q138,
    // whose PageRank broadcasts one 1-row dangling-mass aggregate per
    // unrolled iteration (3). Count DISTINCT physical operator ids from
    // the detail section ("(id) BroadcastNestedLoopJoin" appears exactly
    // once per operator) — raw text counts overcount when a cached
    // (InMemoryRelation) subtree is printed under several parents.
    gateQueries.toSeq.sorted.foreach { name =>
      val allowed = Map("q74_semdedup" -> 2, "q137_bm25_disk" -> 2,
        "q155_bm25_bucketed" -> 2, "q156_bm25_bucketed_maxscore" -> 2,
        "q138_pagerank" -> 3).getOrElse(name, 1)
      val n = """\((\d+)\) BroadcastNestedLoopJoin""".r
        .findAllMatchIn(formatted(name)).map(_.group(1)).toSet.size
      assert(n <= allowed, s"$name has $n nested-loop joins (expected <= $allowed)")
    }
  }

  test("q44 exact cosine pairs enumerate through the blocked equi-join — never a nested loop") {
    val plan = formatted("q44_embed_dup_pairs")
    // The id_a < id_b all-pairs formulation plans as a
    // BroadcastNestedLoopJoin (one side broadcast whole to every task) —
    // the one shape that cannot survive scale. The blocked triangle join
    // must keep pair enumeration on a shuffled equi-join over block-pair
    // keys.
    // Any EQUI-join operator is the correct shape (Catalyst picks broadcast
    // at this SF because the exploded side is megabytes; at scale the same
    // plan resolves to a shuffled sort-merge on the block-pair key).
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    assert(!plan.contains("CartesianProduct"))
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
  }

  test("q59 composes cluster pruning -> residual ADC -> heap shortlist -> broadcast re-rank") {
    val plan = formatted("q59_ann_pq")
    // the IVF cluster-pruning predicate gates the scan BEFORE the ADC
    // projection runs (the in-plan analogue of the layout's partition
    // pruning)
    assert(plan.contains(" IN ("))
    // compressed scan -> TakeOrderedAndProject (no full sort of the
    // corpus); the exact re-rank joins the SHORTLIST broadcast against
    // raw vectors, never shuffling the corpus.
    assert(plan.contains("pq_adc"))
    assert(plan.contains("TakeOrderedAndProject"))
    assert(plan.contains("BroadcastHashJoin"))
    // cluster pruning must FEED the ADC scan: the IN filter sits upstream
    // of the first pq_adc occurrence in the formatted plan's detail section
    assert(plan.indexOf(" IN (") < plan.indexOf("pq_adc"))
  }

  test("q75 prefix sum never plans a single-partition exchange") {
    // the naive global-window cumsum sorts the corpus on ONE executor; the
    // distributed prefix sum must keep every exchange partitioned — the
    // within-bucket window rides a HASH exchange on the data-derived
    // bucket column (placement-independent; no spark_partition_id, no
    // persist contract)
    val plan = formatted("q75_pack_chunks")
    assert(!plan.contains("SinglePartition"),
      "global-window shape leaked into the packing plan")
    assert(plan.contains("hashpartitioning(__b"),
      "bucket-partitioned window missing from the packing plan")
    assert(!plan.toLowerCase.contains("spark_partition_id"),
      "placement-derived bucket leaked back into the packing plan")
  }

  test("q79 chunk assembly inherits the distributed prefix sum (no single-partition exchange)") {
    val plan = formatted("q79_pack_assemble")
    assert(!plan.contains("SinglePartition"),
      "global-window shape leaked into the chunk-assembly plan")
    assert(plan.contains("hashpartitioning(__b"),
      "bucket-partitioned prefix-sum window missing from the assembly plan")
  }

  test("q90/q91 stratified selection never funnels a stratum through one partition") {
    // Both ride the bucket-prefix-sum shape: the doc-granularity window
    // partitions on (stratum, bucket), never on the stratum alone, and
    // the tiny per-bucket meta frames join back as broadcasts. The only
    // SinglePartition exchange allowed is the final presentation sort's
    // range-partition fallback (none at this SF).
    Seq("q90_epoch_mixture" -> "__tb_b", "q91_quality_quantile" -> "__tf_b",
        "q95_percentile_tiers" -> "__tf_b")
      .foreach { case (q, bucketCol) =>
        val plan = formatted(q)
        assert(!plan.contains("SinglePartition"),
          s"$q: single-partition exchange leaked into the plan")
        assert(plan.contains("BroadcastHashJoin"),
          s"$q: per-bucket meta must join back as a broadcast")
        // the doc window keys on the composite (stratum, bucket), so its
        // exchange hash-partitions on the bucket column too
        assert(plan.linesIterator.exists(l =>
          l.contains("hashpartitioning(") && l.contains(bucketCol)),
          s"$q: bucket-partitioned window missing")
      }
  }

  test("q92 split assignment is map-side: the only exchange is the output sort") {
    val plan = formatted("q92_split_assign")
    assert(!plan.contains("hashpartitioning"),
      "split assignment must not shuffle — the decision is per-row")
    assert(!plan.contains("Join"))
    assert("rangepartitioning".r.findAllIn(plan).size === 1)  // presentation sort
  }

  test("q93 vocabulary cut is a distributed top-k and joins as a broadcast") {
    val plan = formatted("q93_vocab_oov")
    assert(plan.contains("TakeOrderedAndProject"),
      "vocabulary cut must be per-partition heaps, not a global sort")
    assert(plan.contains("BroadcastHashJoin"),
      "the topV vocabulary must broadcast to the token stream")
  }

  test("q32/q33 text metrics run fully inside whole-stage codegen") {
    Seq("q32_token_count", "q33_quality").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf("sf0.01"))
      df.collect()  // finalize the adaptive plan
      val executed = df.queryExecution.executedPlan.toString
      val finalPlan = executed.split("== Initial Plan ==").head
      // every Project/Filter in the final plan sits inside a codegen
      // stage (the "*(n)" span marker) — no interpreted metric evaluation
      assert(finalPlan.contains("*("), q)
      assert(!finalPlan.linesIterator.exists(l =>
        (l.contains("- Project") || l.contains("- Filter")) && !l.contains("*(")), q)
    }
  }
}
