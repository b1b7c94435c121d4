package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Closed-loop benchmark client: one Spark session, one thread, each
  * operation starts after the previous one has finished.
  *
  * Usage: `perfbench.Harness PLAN RESULT`
  *
  * PLAN is a tab-separated file written by `run.py`:
  * {{{
  * conf   <key> <value>             master, seconds, trace, local_dir
  * warmup <kind> <args...>          run once before measuring, not timed
  * op     <kind> <args...>          one operation of a pass
  * }}}
  * Kinds: `meertrap INPUT PARTITION_KEY`, `atnf CSV`, `query NAME SF_DIR`,
  * and `warm NAME` (a small generic job, warm-up only). Passes over the `op`
  * lines repeat until `seconds` have elapsed (at least one pass). Every
  * operation writes its output under `local_dir/out/<seq>` and is checked by
  * `run.py` after the session has stopped.
  *
  * With `trace 1` the client registers a [[SparkListener]] and a
  * [[QueryExecutionListener]] and records a span around each public call
  * it makes into the engine. The ETL entry points (`meertrap.Main.run`,
  * `atnf.Main.run`) run unmodified in traced runs too: a [[Sampler]] reads
  * the client thread's stack while they run, and each engine call it finds
  * there (the source reads, `MeertrapPipeline.run`, every output write,
  * `MeertrapPipeline.metrics`, the ATNF extract and transform) becomes a
  * span. Spans, jobs and stages are written to RESULT for `run.py` to fold
  * into per-layer numbers.
  */
object Harness {

  final case class Op(kind: String, args: Vector[String])

  final case class Span(id: Int, op: Int, parent: Int, name: String,
                        probe: Boolean, start: Long, var end: Long = 0L)

  final case class OpRecord(seq: Int, pass: Int, op: Op, seconds: Double, out: String,
                            error: Option[String], metrics: Map[String, Long],
                            leftoverRdds: Int)

  private val SpanProperty = "perfbench.span"

  /** Epoch nanoseconds minus `System.nanoTime`, to place a job's submission
    * time (epoch milliseconds) on the spans' clock.
    */
  private val EpochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  /** The engine calls a sampled entry point makes, by frame (class without
    * the Scala object's `$`, then method), and the span each one gets.
    */
  val EngineCalls: Map[String, String] = Map(
    "graft.meertrap.Main.run" -> "meertrap.Main.run",
    "graft.meertrap.MeertrapPipeline.run" -> "MeertrapPipeline.run",
    "graft.sources.RunSummarySource.read" -> "RunSummarySource.read",
    "graft.sources.SpcclSource.read" -> "SpcclSource.read",
    "graft.meertrap.MeertrapPipeline.metrics" -> "MeertrapPipeline.metrics",
    "graft.atnf.Main.run" -> "atnf.Main.run",
    "graft.atnf.AtnfTransform.extract" -> "AtnfTransform.extract",
    "graft.atnf.AtnfTransform.transform" -> "AtnfTransform.transform")

  val SamplePeriodMs = 5L

  /** The engine calls on a stack, outermost first, each keyed by its call
    * site (the calling frame's file and line) so that two calls of one
    * method from two lines are two spans. A `DataFrameWriter.parquet` call
    * is named `write:<call site>`.
    */
  def engineCalls(stack: Array[StackTraceElement]): Vector[(String, String)] =
    stack.indices.reverse.toVector.flatMap { i =>
      val f = stack(i)
      val cls = f.getClassName.stripSuffix("$")
      val site = stack.lift(i + 1).map(c => s"${c.getFileName}:${c.getLineNumber}").getOrElse("")
      val name =
        if (cls.endsWith(".DataFrameWriter") && f.getMethodName == "parquet") Some(s"write:$site")
        else EngineCalls.get(s"$cls.${f.getMethodName}")
      name.map(_ -> site)
    }

  /** Reads one thread's stack every [[SamplePeriodMs]] until finished. */
  final class Sampler(target: Thread) extends Thread("perfbench-sampler") {
    setDaemon(true)
    private val samples = mutable.ArrayBuffer.empty[(Long, Vector[(String, String)])]
    @volatile private var running = true

    override def run(): Unit = while (running) {
      samples += System.nanoTime() -> engineCalls(target.getStackTrace)
      Thread.sleep(SamplePeriodMs)
    }

    /** Stops sampling; the samples (time, engine calls), oldest first. */
    def finish(): Seq[(Long, Vector[(String, String)])] = {
      running = false
      join()
      samples.toSeq
    }
  }

  def main(argv: Array[String]): Unit = {
    val (conf, warmups, ops) = readPlan(argv(0))
    val trace = conf("trace") == "1"
    val seconds = conf("seconds").toDouble
    val localDir = conf("local_dir")
    val cores = conf("master").stripPrefix("local[").stripSuffix("]").toInt

    val spark = graft.Sessions.init(graft.Sessions.builder(conf("master"), cores)
      .appName("perfbench")
      .config("spark.local.dir", s"$localDir/spark")
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val readyAt = System.currentTimeMillis()

    val recorder = new Recorder
    val client = new Client(spark, localDir, recorder)

    val w0 = System.nanoTime()
    val warm = warmups.map(op => client.run(op, pass = -1))
    val warmupSeconds = (System.nanoTime() - w0) / 1e9

    if (trace) {
      spark.sparkContext.addSparkListener(recorder)
      spark.listenerManager.register(recorder.queryListener)
      client.trace = true
    }
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val passes = mutable.ArrayBuffer.empty[Double]
    val m0 = System.nanoTime()
    while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < seconds) {
      val p0 = System.nanoTime()
      ops.foreach(op => records += client.run(op, passes.size))
      passes += (System.nanoTime() - p0) / 1e9
    }
    // Gate split, traced runs only and not operations of the workload: each
    // gated query once more as registered and once gate-free, both after
    // the pass, so neither pays the first run's warm-up.
    val serving =
      if (trace) ops.filter(op => op.kind == "query" &&
        graft.SparkEntry.servingQueries.contains(op.args(0)))
        .flatMap(op => Seq(client.run(op, pass = -1), client.run(Op("serving", op.args), pass = -1)))
      else Seq.empty
    val leftoverAtEnd = spark.sparkContext.getPersistentRDDs.size
    val hwmKb = vmHwmKb()

    val json = new StringBuilder
    json ++= "{"
    json ++= s""""ready_epoch_ms":$readyAt,"warmup_s":$warmupSeconds,"""
    json ++= s""""vm_hwm_kb":$hwmKb,"leftover_rdds_end":$leftoverAtEnd,"""
    json ++= s""""passes":${passes.mkString("[", ",", "]")},"""
    json ++= s""""warmups":${warm.map(opJson).mkString("[", ",", "]")},"""
    json ++= s""""serving":${serving.map(opJson).mkString("[", ",", "]")},"""
    json ++= s""""ops":${records.map(opJson).mkString("[", ",", "]")},"""
    json ++= s""""oracle_sql":${oracleJson(ops ++ warmups)}"""
    if (trace) json ++= "," ++= recorder.json(client.spans.toSeq)
    json ++= "}"
    Files.write(Paths.get(argv(1)), json.toString.getBytes(UTF_8))
    spark.stop()
  }

  /** One engine call sequence per operation kind. */
  final class Client(spark: SparkSession, localDir: String, recorder: Recorder) {
    val spans = mutable.ArrayBuffer.empty[Span]
    var trace = false
    private val stack = mutable.Stack.empty[Span]
    private var seq = 0
    private lazy val registry = graft.SparkEntry.queries
    private lazy val servingRegistry = graft.SparkEntry.servingQueries

    private def span[T](name: String, probe: Boolean = false)(body: => T): T = {
      if (!trace) return body
      val s = Span(spans.size, seq, stack.headOption.map(_.id).getOrElse(-1), name, probe,
        System.nanoTime())
      spans += s
      stack.push(s)
      spark.sparkContext.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack.pop()
        spark.sparkContext.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

    /** Runs `body` (an engine entry point, unmodified) while a [[Sampler]]
      * reads this thread's stack, then turns each engine call the samples
      * show into a span under the current one. A span opens and closes
      * halfway between the sample that first shows its call and the one
      * before, and between the sample that last shows it and the one after.
      */
    private def sampled[T](body: => T): T = {
      if (!trace) return body
      val parent = stack.head
      val sampler = new Sampler(Thread.currentThread())
      val t0 = System.nanoTime()
      sampler.start()
      try body
      finally {
        val samples = sampler.finish()
        val end = System.nanoTime()
        val open = mutable.ArrayBuffer.empty[((String, String), Span)]
        var prev = t0
        for ((t, calls) <- samples) {
          val at = (prev + t) / 2
          val common = open.iterator.map(_._1).zip(calls.iterator).takeWhile(p => p._1 == p._2).size
          open.drop(common).foreach(_._2.end = at)
          open.dropRightInPlace(open.size - common)
          calls.drop(common).foreach { call =>
            val s = Span(spans.size, seq, open.lastOption.fold(parent.id)(_._2.id), call._1,
              probe = false, at)
            spans += s
            open += call -> s
          }
          prev = t
        }
        open.foreach(_._2.end = end)
      }
    }

    def run(op: Op, pass: Int): OpRecord = {
      val out = s"$localDir/out/$seq"
      val leftover = spark.sparkContext.getPersistentRDDs.size
      var metrics = Map.empty[String, Long]
      val t0 = System.nanoTime()
      val error =
        try {
          metrics = span(s"${op.kind}:${opName(op)}")(execute(op, out))
          None
        } catch {
          case e: Throwable => Some(s"${e.getClass.getName}: ${e.getMessage}")
        }
      val seconds = (System.nanoTime() - t0) / 1e9
      if (trace) {
        // Counts that need a finished operation: listener events drained,
        // then probes kept out of the operation's clock (their own events
        // drained and dropped).
        recorder.drain(spark)
        metrics ++= recorder.takeActions()
        metrics ++= probes(op)
        recorder.drain(spark)
        recorder.takeActions()
      }
      val rec = OpRecord(seq, pass, op, seconds, out, error, metrics, leftover)
      seq += 1
      rec
    }

    private def probes(op: Op): Map[String, Long] = op.kind match {
      case "meertrap" =>
        // The run summaries read again, as the pipeline reads them from the
        // partition directory `run.py` generated.
        span("probe:run_summaries", probe = true) {
          val rs = graft.sources.RunSummarySource.read(spark,
            new org.apache.hadoop.fs.Path(op.args(0), op.args(1)).toString)
          Map("json_files_read" -> rs.parsed.inputFiles.length.toLong,
            "unique_run_summaries" -> (rs.parsed.count() + rs.corrupt.count()))
        }
      case "query" =>
        span("Sessions.init", probe = true)(graft.Sessions.init(spark))
        Map.empty
      case _ => Map.empty
    }

    private def execute(op: Op, out: String): Map[String, Long] = op.kind match {
      case "meertrap" =>
        val buf = new java.io.ByteArrayOutputStream
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
          sampled(graft.meertrap.Main.run(spark,
            graft.meertrap.Main.Args(op.args(0), op.args(1), None, Some(out))))
        }
        parseMetrics(buf.toString("UTF-8"))
      case "atnf" =>
        sampled(graft.atnf.Main.run(spark, graft.atnf.Main.Args(op.args(0), out = Some(out))))
        Map.empty
      case "query" | "serving" =>
        val fn = if (op.kind == "query") registry(op.args(0)) else servingRegistry(op.args(0))
        val df = span("build")(fn(spark, op.args(1)))
        span("action")(df.coalesce(1).write.mode("overwrite").parquet(out))
        Map.empty
      case "warm" =>
        // Session, codegen and the parquet writer and reader once, on a
        // small frame (the warm-up `graft.Bench` runs before its queries).
        spark.range(1000000L).selectExpr("sum(id)").collect()
        spark.range(1000L).selectExpr("id", "cast(id as string) as s")
          .write.mode("overwrite").parquet(out)
        spark.read.parquet(out).where("id % 7 = 0").count()
        Map.empty
      case other => sys.error(s"unknown operation kind: $other")
    }
  }

  /** Parses the `[meertrap-metrics] k=v ...` line `Main.run` prints. */
  def parseMetrics(stdout: String): Map[String, Long] =
    stdout.linesIterator.find(_.startsWith("[meertrap-metrics]")).toSeq
      .flatMap(_.stripPrefix("[meertrap-metrics]").trim.split(" ").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v.toLong }.toMap

  final case class Job(id: Int, span: Int, submitNs: Long, var tasks: Int = 0)

  /** Jobs, stages and RDD-block sizes, each job tagged with the span that
    * submitted it (a local property, inherited by the engine's own threads)
    * and its submission time, which places it within a sampled span.
    */
  final class Recorder extends SparkListener {
    private val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    // per stage: tasks, run ms, cpu ns, shuffle read B, shuffle write B, spill B
    private val stages = mutable.LinkedHashMap.empty[Int, Array[Long]]
    private val rddBlocks = mutable.HashMap.empty[String, Long]
    private var storageNow = 0L
    private var storagePeak = 0L
    private var actions = 0L
    private var actionNs = 0L
    @volatile private var marker: CountDownLatch = _

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(-1)
      jobs(e.jobId) = Job(e.jobId, span, e.time * 1000000L - EpochOffsetNs)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val m = marker
      if (m != null && synchronized(jobs.get(e.jobId).exists(_.span == -2))) m.countDown()
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stages.getOrElseUpdate(e.stageId, new Array[Long](6))
      s(0) += 1
      val m = e.taskMetrics
      if (m != null) {
        s(1) += m.executorRunTime
        s(2) += m.executorCpuTime
        s(3) += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
        s(4) += m.shuffleWriteMetrics.bytesWritten
        s(5) += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        storageNow += size - rddBlocks.getOrElse(info.blockId.name, 0L)
        if (size == 0L) rddBlocks.remove(info.blockId.name) else rddBlocks(info.blockId.name) = size
        storagePeak = math.max(storagePeak, storageNow)
      }
    }

    val queryListener: QueryExecutionListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        Recorder.this.synchronized { actions += 1; actionNs += durationNs }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        Recorder.this.synchronized { actions += 1 }
    }

    /** SQL actions (eager ones during construction included) reported since
      * the last call, and their summed duration.
      */
    def takeActions(): Map[String, Long] = synchronized {
      val m = Map("sql_actions" -> actions, "sql_action_ns" -> actionNs)
      actions = 0L
      actionNs = 0L
      m
    }

    /** Waits until every event posted so far has reached the listeners: a
      * one-task marker job's end arrives after them on the same queue.
      */
    def drain(spark: SparkSession): Unit = {
      marker = new CountDownLatch(1)
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(SpanProperty)
      sc.setLocalProperty(SpanProperty, "-2")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(SpanProperty, prev)
      marker.await(60, TimeUnit.SECONDS)
    }

    def json(spans: Seq[Span]): String = synchronized {
      stages.foreach { case (sid, s) => stageJob.get(sid).flatMap(jobs.get).foreach(_.tasks += s(0).toInt) }
      val spanJson = spans.map { s =>
        s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":${q(s.name)},""" +
          s""""probe":${s.probe},"start_ns":${s.start},"end_ns":${s.end}}"""
      }
      val jobJson = jobs.values.filter(_.span != -2).map(j =>
        s"""{"id":${j.id},"span":${j.span},"submit_ns":${j.submitNs},"tasks":${j.tasks}}""")
      val stageJson = stages.map { case (sid, s) =>
        s"""{"id":$sid,"job":${stageJob.getOrElse(sid, -1)},"tasks":${s(0)},"run_ms":${s(1)},""" +
          s""""cpu_ns":${s(2)},"shuffle_read_b":${s(3)},"shuffle_write_b":${s(4)},"spill_b":${s(5)}}"""
      }
      s""""spans":${spanJson.mkString("[", ",", "]")},"jobs":${jobJson.mkString("[", ",", "]")},""" +
        s""""stages":${stageJson.mkString("[", ",", "]")},"peak_storage_b":$storagePeak"""
    }
  }

  private def opName(op: Op): String =
    if (op.kind == "query" || op.kind == "serving") op.args.head else op.kind

  private def opJson(r: OpRecord): String =
    s"""{"seq":${r.seq},"pass":${r.pass},"kind":${q(r.op.kind)},"name":${q(opName(r.op))},""" +
      s""""seconds":${r.seconds},"out":${q(r.out)},"error":${r.error.map(q).getOrElse("null")},""" +
      s""""leftover_rdds":${r.leftoverRdds},""" +
      s""""metrics":${r.metrics.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")}}"""

  private def oracleJson(ops: Seq[Op]): String = {
    val names = ops.filter(_.kind == "query").map(_.args.head).toSet
    graft.SparkEntry.oracleSql.filter { case (k, _) => names(k) }
      .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}")
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  private def readPlan(path: String): (Map[String, String], Vector[Op], Vector[Op]) = {
    val lines = Files.readAllLines(Paths.get(path), UTF_8).asScala.toVector
      .filter(_.nonEmpty).map(_.split("\t", -1).toVector)
    val conf = lines.collect { case Vector("conf", k, v) => k -> v }.toMap
    def opsOf(tag: String) = lines.collect { case `tag` +: kind +: args => Op(kind, args) }
    (conf, opsOf("warmup"), opsOf("op"))
  }
}
