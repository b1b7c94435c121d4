package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.operators.AsOf

class AsOfSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // right: reference rows per key
  lazy val right = Seq(
    ("a", ts("2024-01-01 10:00:00"), 100L),
    ("a", ts("2024-01-01 11:00:00"), 101L),
    ("b", ts("2024-01-01 10:30:00"), 200L)
  ).toDF("k", "rts", "rid")

  lazy val left = Seq(
    (1L, "a", ts("2024-01-01 10:30:00")),  // between -> 100
    (2L, "a", ts("2024-01-01 11:00:00")),  // equal ts -> inclusive -> 101
    (3L, "a", ts("2024-01-01 09:00:00")),  // before all -> null
    (4L, "b", ts("2024-01-01 12:00:00")),  // -> 200
    (5L, "c", ts("2024-01-01 12:00:00"))   // no key -> null
  ).toDF("id", "k", "lts")

  test("backward as-of: latest at-or-before within key groups") {
    val got = AsOf.joinBackward(left, right, Seq("k"), "lts", "rts", Seq("rid"))
      .select($"id", $"rid").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got === Map(1L -> Some(100L), 2L -> Some(101L), 3L -> None,
      4L -> Some(200L), 5L -> None))
  }

  test("native sort-merge exec agrees with union-and-fill") {
    val a = AsOf.joinBackward(left, right, Seq("k"), "lts", "rts", Seq("rid"))
      .select($"id", $"rid").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val c = AsOf.joinBackwardSortMerge(left, right, Seq("k"), "lts", "rts", Seq("rid"))
      .select($"id", $"rid").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a === c)
  }

  test("native exec plans as AsOfJoinExec and handles self-source joins") {
    val ev = Tables(spark, sf("sf0.001"), "events")
    val clicks = ev.where($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val purchases = ev.where($"event_type" === "purchase")
      .select($"user_id", $"ts".as("p_ts"), $"event_id".as("p_event_id"))
    val viaExec = AsOf.joinBackwardSortMerge(clicks, purchases,
      Seq("user_id"), "ts", "p_ts", Seq("p_event_id"))
    assert(viaExec.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val viaFill = AsOf.joinBackward(clicks, purchases,
      Seq("user_id"), "ts", "p_ts", Seq("p_event_id"))
    val a = viaExec.select($"event_id", $"p_event_id").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val b = viaFill.select($"event_id", $"p_event_id").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(a === b)
  }

  test("every left row survives exactly once (no loss, no fan-out)") {
    val out = AsOf.joinBackward(left, right, Seq("k"), "lts", "rts", Seq("rid"))
    assert(out.count() === 5)
    assert(out.select("id").distinct().count() === 5)
  }

  test("null right timestamps never match, in BOTH paths") {
    val rightWithNull = Seq(
      ("a", Option(ts("2024-01-01 10:00:00")), 100L),
      ("a", Option.empty[Timestamp], 999L),  // must never attach
      ("b", Option.empty[Timestamp], 998L)   // only row for key b -> all-null
    ).toDF("k", "rts", "rid")
    val expect = Map(1L -> Some(100L), 2L -> Some(100L), 3L -> None,
      4L -> None, 5L -> None)
    val viaFill = AsOf.joinBackward(left, rightWithNull, Seq("k"), "lts", "rts", Seq("rid"))
      .select($"id", $"rid").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    val viaExec = AsOf.joinBackwardSortMerge(left, rightWithNull, Seq("k"), "lts", "rts", Seq("rid"))
      .select($"id", $"rid").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(viaFill === expect)
    assert(viaExec === expect)
  }

  test("mismatched by-key datatypes are rejected at construction") {
    val intKeyedRight = right.withColumn("k2", lit(1))
      .select($"k2".as("k"), $"rts", $"rid")
    val longKeyedLeft = left.withColumn("k2", lit(1L))
      .select($"id", $"k2".as("k"), $"lts")
    val e = intercept[IllegalArgumentException] {
      AsOf.joinBackwardSortMerge(longKeyedLeft, intKeyedRight,
        Seq("k"), "lts", "rts", Seq("rid")).collect()
    }
    assert(e.getMessage.contains("datatypes must match"))
  }
}
