package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.core.Stages

/** [[graft.core.Stages]] is the one place a stage boundary is decided:
  * the eager cut, the durable read-or-compute and its manifest guard.
  */
class StagesSpec extends SparkSuite {

  test("source guard: eager cuts and durable stages go through core/Stages.scala only") {
    val root = Paths.get("src/main/scala")
    val files = Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned ${files.size} files under $root")
    val home = root.resolve("graft/core/Stages.scala")
    assert(files.contains(home))
    def read(f: Path) = new String(Files.readAllBytes(f), UTF_8)
    val boundary = """\.localCheckpoint\(|readOrCompute|_manifest\.json""".r
    val outside = for {
      f <- files if f != home
      m <- boundary.findAllMatchIn(read(f))
    } yield s"$f: ${m.matched}"
    assert(outside.isEmpty, outside.mkString("\n"))
  }

  test("checkpoint: computes once, then reads back (reference read_or_parse_parquet)") {
    val dir = Files.createTempDirectory("cp").toString + "/stage"
    var computed = 0
    def compute = {
      computed += 1
      spark.range(10).toDF("id")
    }
    val first = Stages.readOrCompute(spark, dir)(compute)
    assert(first.count() === 10 && computed === 1)
    val second = Stages.readOrCompute(spark, dir)(compute)
    assert(second.count() === 10 && computed === 1)   // not recomputed
  }

  test("checkpoint: a readable dir WITHOUT _SUCCESS is a torn write — recomputed, not resumed") {
    // Simulate a crash during job commit: task part-files landed (the
    // dir reads fine, schema and all) but the committer never wrote
    // _SUCCESS. readOrCompute must treat that as incomplete.
    val dir = Files.createTempDirectory("cp_torn").toString + "/stage"
    spark.range(3).toDF("id").write.parquet(dir)   // full write…
    assert(new java.io.File(dir, "_SUCCESS").delete())  // …then tear it
    assert(!Stages.isComplete(spark, dir))
    var computed = 0
    val got = Stages.readOrCompute(spark, dir) {
      computed += 1
      spark.range(10).toDF("id")
    }
    assert(computed === 1 && got.count() === 10)
    // the recompute overwrote the torn dir with a committed one
    assert(Stages.isComplete(spark, dir))
    assert(spark.read.parquet(dir).count() === 10)
  }

  test("fused without a checkpoint dir is a pass-through: nothing is materialized") {
    import spark.implicits._
    val rows = spark.sparkContext.longAccumulator("stagesFusedRows")
    val input = spark.range(0, 7, 1, 2).map { x => rows.add(1); x.longValue }.toDF("id")
    val stages = Stages(spark, None)(sys.error("no manifest without a dir"))
    val fused = stages.fused("f", input)
    assert(fused eq input)
    assert(rows.value === 0L)
    // Control: the staged boundary is an eager cut, evaluated once.
    val staged = stages.staged("s", input)
    assert(rows.value === 7L)
    assert(staged.count() === 7L && rows.value === 7L)
    assert(fused.collect().length === 7 && rows.value === 14L)
  }
}
