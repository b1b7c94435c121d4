package graft

import org.apache.spark.sql.functions._

import graft.corpus.CcnetPipeline
import graft.streaming.StreamingParagraphDedup.ParagraphRegistry

/** [[CcnetPipeline]] — the CCNet composition as a production API:
  * one-shot and incremental paragraph-dedup flavors agree, the
  * interpolated-trigram LM (lmOrder = 3) ranks shuffled word salad
  * below natural text where the unigram LM cannot see a difference,
  * and the budget contract stays on TOKEN counts at every order.
  */
class CcnetPipelineSpec extends SparkSuite {
  import spark.implicits._

  // English/French sentences long enough for a confident langid call;
  // a shared per-language boilerplate paragraph rides on most docs
  private val enBase = "the students read their books in the library and talk about history and science every afternoon"
  private val frBase = "les étudiants lisent leurs livres à la bibliothèque et parlent chaque après midi de sciences et de littérature"
  private val enBoiler = "subscribe to the weekly newsletter for more stories from the old town"
  private val frBoiler = "abonnez vous à la lettre hebdomadaire pour plus de nouvelles de la vieille ville"

  private def corpus(n: Int) = {
    val rows = (0L until n.toLong).map { i =>
      val en = i % 2 == 0
      val base = (if (en) enBase else frBase) + s" extra$i"
      val boiler = if (en) enBoiler else frBoiler
      val text = if (i % 5 == 0) base else base + "\n\n" + boiler
      (i, text)
    }
    rows.toDF("doc_id", "text")
  }

  test("one-shot flavor: per-language paragraph dedup keeps one boilerplate copy per language") {
    val r = CcnetPipeline.run(spark, corpus(40),
      CcnetPipeline.Config(dedup = CcnetPipeline.OneShot()))
    val kept = r.classified.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect()
    assert(kept.map(_._2).toSet === Set("en", "fr"))
    for (b <- Seq(enBoiler, frBoiler))
      assert(kept.count(_._3.contains(b)) === 1, s"boilerplate '$b' copies")
    // the winner is the smallest boilerplate-carrying doc of the language
    assert(kept.filter(_._3.contains(enBoiler)).map(_._1).toSeq === Seq(2L))
    assert(kept.filter(_._3.contains(frBoiler)).map(_._1).toSeq === Seq(1L))
    // budgeted output carries the canonical columns
    assert(r.budgeted.columns.toSet ===
      Set("doc_id", "lang", "tier", "mean_logp", "n_tokens"))
    assert(r.budgeted.count() > 0)
  }

  test("incremental flavor == one-shot on the union (registry threading across batches)") {
    val root = java.nio.file.Files.createTempDirectory("graft_ccnet_api")
    try {
      val reg = new ParagraphRegistry(root.toString + "/ix", buckets = 4)
      val docs = corpus(40)
      val b1 = CcnetPipeline.run(spark, docs.where(col("doc_id") < 20),
        CcnetPipeline.Config(dedup = CcnetPipeline.Incremental(reg, 0L)))
      val b2 = CcnetPipeline.run(spark, docs.where(col("doc_id") >= 20),
        CcnetPipeline.Config(dedup = CcnetPipeline.Incremental(reg, 1L)))
      val inc = b1.classified.unionByName(b2.classified)
        .select(concat_ws(":", col("doc_id"), col("lang"), md5(col("text"))))
        .as[String].collect().sorted
      val one = CcnetPipeline.run(spark, docs,
          CcnetPipeline.Config(dedup = CcnetPipeline.OneShot())).classified
        .select(concat_ws(":", col("doc_id"), col("lang"), md5(col("text"))))
        .as[String].collect().sorted
      assert(inc.toSeq === one.toSeq)
    } finally {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { java.nio.file.Files.deleteIfExists(p); () })
      finally walk.close()
    }
  }

  test("lmOrder=3 separates shuffled word salad from natural text where unigram cannot") {
    // same token multiset per pair: the unigram model scores them
    // IDENTICALLY; the trigram conditionals only exist in natural order
    val natural = (0L until 20L).map(i => (i, enBase))
    val salad = Seq((100L,
      enBase.split(" ").reverse.mkString(" "))) // same tokens, reversed
    val docs = (natural ++ salad).toDF("doc_id", "text")
    def scores(order: Int) = CcnetPipeline.run(spark, docs,
        CcnetPipeline.Config(lmOrder = order)).scored
      .select("doc_id", "mean_logp").as[(Long, Double)].collect().toMap
    val uni = scores(1)
    assert(math.abs(uni(0L) - uni(100L)) < 1e-9,
      "unigram must not separate a token-multiset permutation")
    // the λ₃ unigram backoff keeps salad from cratering (its tokens are
    // all common), so the separation is a clear gap, not a cliff
    val tri = scores(3)
    assert(tri(0L) > tri(100L) + 0.1,
      s"trigram must rank natural text above salad: ${tri(0L)} vs ${tri(100L)}")
  }

  test("order-3 n_tokens is the TOKEN count (the budget stages' contract), not the trigram count") {
    val docs = (0L until 12L).map(i => (i, enBase)).toDF("doc_id", "text")
    val n = enBase.split(" ").length.toLong
    val got = CcnetPipeline.run(spark, docs,
        CcnetPipeline.Config(lmOrder = 3)).scored
      .select("n_tokens").as[Long].collect()
    assert(got.forall(_ === n), s"expected all $n, got ${got.toSeq.distinct}")
  }

  test("config validation: only orders 1 and 3 exist") {
    intercept[IllegalArgumentException] { CcnetPipeline.Config(lmOrder = 2) }
  }
}
