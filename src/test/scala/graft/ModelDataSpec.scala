package graft

import org.apache.spark.sql.functions._

import graft.operators.{Similarity, TextStats}

/** ngramCountTable + hardNegatives fixtures (the q119/q120 operators). */
class ModelDataSpec extends SparkSuite {
  import spark.implicits._

  test("ngramCountTable: hand-checked counts, deterministic tie ranking") {
    val docs = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    val got = TextStats.ngramCountTable(docs, "text", maxOrder = 3, topK = 2)
      .select("ord", "gram", "cnt", "rank")
      .as[(Int, String, Long, Int)].collect().toSet
    assert(got === Set(
      (1, "a", 3L, 1), (1, "b", 3L, 2),            // count tie -> gram asc
      (2, "a b", 3L, 1), (2, "b a", 1L, 2),        // "b a" < "b c"
      (3, "a b a", 1L, 1), (3, "a b c", 1L, 2)))
  }

  test("ngramCountTable: docs shorter than the order emit nothing at that order; blanks skipped") {
    val docs = Seq((1L, "x"), (2L, "  "), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextStats.ngramCountTable(docs, "text", maxOrder = 3, topK = 10)
      .select("ord", "gram", "cnt", "rank")
      .as[(Int, String, Long, Int)].collect().toSet
    assert(got === Set((1, "x", 1L, 1)))
  }

  test("ngramCountTable: topK beyond distinct grams keeps ranks contiguous") {
    val docs = Seq((1L, "p q")).toDF("doc_id", "text")
    val got = TextStats.ngramCountTable(docs, "text", maxOrder = 2, topK = 100)
      .select("ord", "gram", "rank").as[(Int, String, Int)].collect().toSet
    assert(got === Set((1, "p", 1), (1, "q", 2), (2, "p q", 1)))
  }

  test("hardNegatives: self and near-dups excluded, rank by cosine then id") {
    val vs = Seq(
      (0L, Seq(1f, 0f)),        // anchor
      (1L, Seq(2f, 0f)),        // cosine 1.0 -> near-dup, excluded
      (2L, Seq(0.9f, 0.1f)),    // cosine ~0.994 -> excluded at 0.95
      (3L, Seq(1f, 1f)),        // cosine ~0.707
      (6L, Seq(2f, 2f)),        // cosine ~0.707 (tie with 3 -> lower id first)
      (4L, Seq(0f, 1f)),        // cosine 0
      (5L, Seq(-1f, 0f))        // cosine -1
    ).toDF("vec_id", "embedding")
    val anchors = vs.where(col("vec_id") === 0)
    val got = Similarity.hardNegatives(anchors, vs, "embedding", "vec_id", "vec_id",
        k = 3, dupThreshold = 0.95)
      .select("anchor_id", "negative_id", "rank").as[(Long, Long, Int)]
      .collect().sortBy(_._3)
    assert(got.toSeq === Seq((0L, 3L, 1), (0L, 6L, 2), (0L, 4L, 3)))
  }

  test("hardNegatives: k larger than the qualifying pool returns the whole pool") {
    val vs = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val got = Similarity.hardNegatives(vs.where(col("vec_id") === 0), vs,
        "embedding", "vec_id", "vec_id", k = 10, dupThreshold = 0.95)
      .select("negative_id").as[Long].collect().toSeq
    assert(got === Seq(1L))
  }

  test("mixtureAllocation: availability binds, floor take, fractions; missing stratum pins T to 0") {
    val avail = Seq(("web", 1000L), ("code", 150L), ("wiki", 500L))
      .toDF("stratum", "n_tokens")
    // T* = min(10000, min(1000/.5=2000, 150/.3=500, 500/.2=2500)) = 500
    val rows = graft.operators.Sampling
      .mixtureAllocation(avail, "stratum", "n_tokens",
        Map("web" -> 0.5, "code" -> 0.3, "wiki" -> 0.2), budget = 10000L)
      .select("stratum", "n_avail", "n_take")
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(rows === Map("web" -> ((1000L, 250L)), "code" -> ((150L, 150L)),
      "wiki" -> ((500L, 100L))))
    // the budget binds when availability is plentiful
    val small = graft.operators.Sampling
      .mixtureAllocation(avail, "stratum", "n_tokens",
        Map("web" -> 0.5, "code" -> 0.3, "wiki" -> 0.2), budget = 100L)
      .select("stratum", "n_take").as[(String, Long)].collect().toMap
    assert(small === Map("web" -> 50L, "code" -> 30L, "wiki" -> 20L))
    // a weighted stratum absent from avail makes the mixture infeasible
    val zero = graft.operators.Sampling
      .mixtureAllocation(avail, "stratum", "n_tokens",
        Map("web" -> 0.5, "missing" -> 0.5), budget = 100L)
      .select("stratum", "n_take").as[(String, Long)].collect().toMap
    assert(zero === Map("web" -> 0L, "missing" -> 0L))
  }

  test("mixtureAllocation broadcasts the availability side of its left join (BuildRight)") {
    val avail = Seq(("web", 1000L), ("code", 150L)).toDF("stratum", "n_tokens")
    // size-based broadcast off: only the hint can plan a broadcast join,
    // and Spark honours it only on the non-preserved (right) side
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = graft.operators.Sampling.mixtureAllocation(avail, "stratum",
        "n_tokens", Map("web" -> 0.5, "code" -> 0.5), budget = 100L)
      df.collect() // finalize the adaptive plan
      val finalPlan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      val bhj = finalPlan.linesIterator.filter(_.contains("BroadcastHashJoin")).toList
      assert(bhj.size === 1, finalPlan)
      assert(bhj.head.contains("LeftOuter") && bhj.head.contains("BuildRight"), bhj.head)
    } finally spark.conf.set(key, prev)
  }

  test("termDrift: hand-computed JS contributions, one-sided terms contribute p/2, minCount thins") {
    val a = Seq((1L, "x x y")).toDF("doc_id", "text")   // totals: x=2, y=1 (3)
    val b = Seq((2L, "x z")).toDF("doc_id", "text")     // totals: x=1, z=1 (2)
    val got = TextStats.termDrift(a, b, "text")
      .select("term", "cnt_a", "cnt_b", "p_a", "p_b", "js_contrib")
      .as[(String, Long, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    def js(pa: Double, pb: Double): Double = {
      val m = (pa + pb) / 2
      (if (pa > 0) pa * math.log(pa / m) / math.log(2) / 2 else 0.0) +
        (if (pb > 0) pb * math.log(pb / m) / math.log(2) / 2 else 0.0)
    }
    assert(got("x") === (("x", 2L, 1L, 2.0 / 3, 0.5, js(2.0 / 3, 0.5))))
    // one-sided terms: the present side's p/2 exactly
    assert(got("y")._6 === (1.0 / 3) / 2 && got("y")._3 === 0L)
    assert(got("z")._6 === 0.5 / 2 && got("z")._2 === 0L)
    // total JS over all terms stays in [0, 1]
    val total = got.values.map(_._6).sum
    assert(total > 0.0 && total <= 1.0)
    // minCount is report scope only: x's probabilities are unchanged
    val thinned = TextStats.termDrift(a, b, "text", minCount = 2L)
      .select("term", "p_a").as[(String, Double)].collect().toMap
    assert(thinned.keySet === Set("x") && thinned("x") === 2.0 / 3)
  }
}
