package graft

import org.apache.spark.sql.functions._
import graft.functions.{CoordExpressions, Coordinates}

class CoordExpressionsSpec extends SparkSuite {
  import spark.implicits._

  test("codegen'd expressions agree with Column-composition versions") {
    val df = Seq("4:40:17.07", "0:00:00", "23:59:59.999", "12:30:15.5").toDF("s")
    val both = df.select(
      Coordinates.hmsToDeg($"s").as("composed"),
      CoordExpressions.hmsToDeg($"s").as("native"))
    assert(both.where($"composed" =!= $"native").count() === 0)

    val dec = Seq("-43:33:09.0", "-0:30:00", "0:00:00", "89:59:59.9", "+12:00:00").toDF("s")
    val bothD = dec.select(
      Coordinates.dmsToDeg($"s").as("composed"),
      CoordExpressions.dmsToDeg($"s").as("native"))
    assert(bothD.where($"composed" =!= $"native").count() === 0)
  }

  test("SQL registration works end-to-end") {
    val r = spark.sql("SELECT hms_to_deg('4:40:17.07') AS ra, dms_to_deg('-43:33:09.0') AS dec")
      .head()
    assert(r.getDouble(0) === 70.07113)
    assert(r.getDouble(1) === -43.5525)
  }

  test("malformed input yields NaN, not a crash") {
    val r = spark.sql("SELECT hms_to_deg('garbage') AS x, hms_to_deg('1:2') AS y").head()
    assert(r.getDouble(0).isNaN && r.getDouble(1).isNaN)
  }

  test("stays inside whole-stage codegen (no fallback in the plan)") {
    val df = spark.range(100)
      .select(concat($"id".cast("string"), lit(":30:00")).as("s"))
      .select(CoordExpressions.hmsToDeg($"s").as("d"))
    // "*(1)" prefixes operators inside a WholeStageCodegen stage in the
    // simple plan string; the project with our expression must carry it.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [hms_to_deg"))
    assert(df.where($"d" === 7.5).count() === 1)  // id=0 -> 0:30:00 -> 7.5 deg
  }
}
