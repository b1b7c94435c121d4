package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}
import graft.operators.Ids

/** Dense surrogate ids (W2): same values as a global `row_number` window,
  * minted from one sort numbered by `zipWithIndex`, no window at all.
  */
class IdsSpec extends SparkSuite {

  test("denseId equals global row_number over the same order") {
    import spark.implicits._
    val df = (1 to 10000).map(i => (s"k${10000 - i}%05d".format(10000 - i), i))
      .toDF("k", "v").repartition(16)
    val got = Ids.denseId(df, "id", Seq(col("k")))
      .select("k", "id").as[(String, Long)].collect().toMap
    val want = df.withColumn("id", row_number().over(Window.orderBy("k")).cast("long"))
      .select("k", "id").as[(String, Long)].collect().toMap
    assert(got === want)
  }

  test("denseId ids are dense, contiguous, 1-based") {
    import spark.implicits._
    // Unique keys, then a key with ties: ties break arbitrarily, but ids
    // stay dense and distinct and the key order holds across them.
    for ((n, key) <- Seq((997, (i: Int) => i * 7 % 997), (500, (i: Int) => i % 3))) {
      val df = (1 to n).map(i => (key(i), i)).toDF("k", "v").repartition(8)
      val ids = Ids.denseId(df, "id", Seq(col("k"))).select("k", "id").as[(Int, Long)]
        .collect()
      assert(ids.map(_._2).sorted.toSeq === (1L to n.toLong))
      assert(ids.sortBy(_._2).map(_._1).toSeq === ids.map(_._1).sorted.toSeq)
    }
  }

  test("denseId with multi-column order matches lexicographic rank") {
    import spark.implicits._
    val df = Seq((2, "b"), (1, "z"), (1, "a"), (2, "a"), (3, "m"))
      .toDF("g", "s").repartition(4)
    val got = Ids.denseId(df, "id", Seq(col("g"), col("s")))
      .orderBy("id").select("g", "s").as[(Int, String)].collect().toSeq
    assert(got === Seq((1, "a"), (1, "z"), (2, "a"), (2, "b"), (3, "m")))
  }

  test("denseId plan has no Window node at all") {
    import spark.implicits._
    val df = (1 to 100).map(i => (s"k$i", i)).toDF("k", "v").repartition(8)
    val out = Ids.denseId(df, "id", Seq(col("k")))
    assert(out.queryExecution.optimizedPlan.collect { case w: LogicalWindow => w }.isEmpty)
  }

  test("denseId numbers the rows it sorted, even when the source reorders on every evaluation") {
    import spark.implicits._
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try {
      // Same rows on every evaluation, in a new order within each partition;
      // the payload `v` keeps the sort wider than its order key.
      val rows = (1 to 20000).map(i => (i % 7, i, s"v$i"))
      val df = spark.sparkContext.parallelize(rows, 2)
        .mapPartitions(it => scala.util.Random.shuffle(it.toList).iterator)
        .toDF("g", "k", "v")
      val got = Ids.denseId(df, "id", Seq(col("g"), col("k")))
        .select("id", "v").as[(Long, String)].collect()
      assert(got.map(_._1).sorted.toSeq === (1L to 20000L))
      val want = df.withColumn("id", row_number().over(Window.orderBy("g", "k")).cast("long"))
        .select("id", "v").as[(Long, String)].collect()
      assert(got.toMap === want.toMap)
    } finally spark.conf.set("spark.sql.shuffle.partitions", before)
  }
}
