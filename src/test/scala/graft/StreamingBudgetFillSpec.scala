package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.StreamingBudgetFill
import graft.streaming.StreamingBudgetFill.{Doc, Verdict}

class StreamingBudgetFillSpec extends SparkSuite {
  import spark.implicits._

  private def run(in: MemoryStream[Doc], cp: String,
                  budgets: Map[String, Long], default: Long,
                  strict: Boolean): Seq[Verdict] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[Verdict]
    val q = StreamingBudgetFill.verdicts(in.toDS(), budgets, default, strict)
      .writeStream.outputMode("append").trigger(Trigger.AvailableNow())
      .option("checkpointLocation", cp)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Verdict], _: Long) =>
        buf.synchronized { buf ++= b.collect() }; ()
      }
      .start()
    try {
      assert(q.awaitTermination(120000), "the stream did not terminate within 120 s")
      buf.toSeq
    } finally q.stop()
  }

  private def withRocks[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally if (prev.nonEmpty)
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
  }

  test("greedy fill: budget consumed by kept docs only; state persists across batches") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Doc]
      val cp = Files.createTempDirectory("sbf_cp").toString
      // budget 100: docs 40+40 fit, 30 overflows (greedy: skipped, budget
      // stays 80), 15 still fits afterwards
      in.addData(Doc("web", 1L, 40L), Doc("web", 2L, 40L), Doc("web", 3L, 30L))
      val r1 = run(in, cp, Map("web" -> 100L), 0L, strict = false)
      assert(r1.map(v => (v.doc_id, v.kept)).sortBy(_._1) ===
        Seq((1L, true), (2L, true), (3L, false)))
      assert(r1.maxBy(_.doc_id).spent === 80L)
      // batch 2 resumes from RocksDB state: 15 fits (80+15<=100), 10 then overflows
      in.addData(Doc("web", 4L, 15L), Doc("web", 5L, 10L))
      val r2 = run(in, cp, Map("web" -> 100L), 0L, strict = false)
      assert(r2.map(v => (v.doc_id, v.kept)).sortBy(_._1) ===
        Seq((4L, true), (5L, false)))
      assert(r2.maxBy(_.doc_id).seen_tokens === 135L)
    }
  }

  test("strict prefix matches the batch cum<=B rule: overflow ends the stratum") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Doc]
      val cp = Files.createTempDirectory("sbf_cp2").toString
      // same arrivals, strict: doc 3 overflows (cum 110 > 100) and doc 4
      // stays dropped even though spent is only 80 (cum 125 > 100)
      in.addData(Doc("web", 1L, 40L), Doc("web", 2L, 40L),
        Doc("web", 3L, 30L), Doc("web", 4L, 15L))
      val r = run(in, cp, Map("web" -> 100L), 0L, strict = true)
      assert(r.map(v => (v.doc_id, v.kept)).sortBy(_._1) ===
        Seq((1L, true), (2L, true), (3L, false), (4L, false)))
    }
  }

  test("strata are independent; unknown strata use the default budget") {
    withRocks {
      implicit val sqlCtx = spark.sqlContext
      val in = MemoryStream[Doc]
      val cp = Files.createTempDirectory("sbf_cp3").toString
      in.addData(Doc("web", 1L, 50L), Doc("code", 2L, 50L), Doc("logs", 3L, 1L))
      val r = run(in, cp, Map("web" -> 100L, "code" -> 10L), 0L, strict = false)
        .map(v => v.doc_id -> v.kept).toMap
      assert(r === Map(1L -> true, 2L -> false, 3L -> false))  // logs: default 0
    }
  }
}
