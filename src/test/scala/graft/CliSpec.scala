package graft

import java.nio.file.Files

/** Smoke coverage for the standalone job entry points (reference
  * `meertrap/main.py` / `atnf/main.py`): argument parsing, the
  * partition-key path narrowing, and parquet output.
  */
class CliSpec extends SparkSuite {

  test("meertrap CLI: fixture run writes all five parquet outputs") {
    val fixture = graft.meertrap.FixtureGen.generate().toString
    val out = Files.createTempDirectory("meertrap_cli_out").toString
    val args = graft.meertrap.Main.parse(Array(
      "--input", fixture, "--partition-key", "2023-11-20", "--out", out))
    assert(args.partitionKey === "2023-11-20")
    val result = graft.meertrap.Main.run(spark, args)
    val candidates = spark.read.parquet(s"$out/candidate")
    assert(candidates.count() > 0)
    assert(spark.read.parquet(s"$out/observation").count() > 0)
    assert(spark.read.parquet(s"$out/beam").count() > 0)
    // quarantine/corrupt frames exist even when empty (schema written)
    assert(Files.exists(java.nio.file.Paths.get(out, "quarantined_spccl")))
    assert(Files.exists(java.nio.file.Paths.get(out, "corrupt_run_summaries")))
    // per-run metrics (the reference's plot_cand_obs_count numbers)
    val m = graft.meertrap.MeertrapPipeline.metrics(result)
    assert(m("num_obs") === result.observation.obs
      .select("observation_id").distinct().count())
    assert(m("num_cands") === candidates.count())
    assert(m("cands_per_obs_max") >= 1L)
    assert(m.keySet === Set("num_obs", "num_cands", "beams",
      "cands_per_obs_max", "corrupt_run_summaries", "quarantined_spccl"))
  }

  /** One `--out` run whose result frames the specs below re-use AFTER the
    * run has written them and emitted its metrics.
    */
  private lazy val written = graft.meertrap.Main.run(spark, graft.meertrap.Main.Args(
    input = graft.meertrap.FixtureGen.generate().toString, partitionKey = "2023-11-20",
    out = Some(Files.createTempDirectory("meertrap_cli_written").toString)))

  private def writtenFrames = Seq(
    "observation" -> written.observation.obs, "beam" -> written.observation.beam,
    "candidate" -> written.candidates,
    "corrupt_run_summaries" -> written.corruptRunSummaries,
    "quarantined_spccl" -> written.quarantinedSpccl)

  test("meertrap CLI: written output frames plan over stage leaves, not cached subtrees") {
    // Lineage guard: a `.cache()` stage mark embeds every upstream stage in
    // each consumer's plan (the plan doubled per stage and dominated the
    // ingest). The bound is the boundaries' measured maximum (25 nodes,
    // the candidate frame) with 2x headroom; never loosen it.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    writtenFrames.foreach { case (name, df) =>
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collectWithSubqueries { case m: InMemoryRelation => m }.isEmpty,
        s"$name plans over a cached stage")
      val nodes = plan.collectWithSubqueries { case p => p }.size
      assert(nodes <= 50, s"$name optimized plan has $nodes nodes")
    }
  }

  test("meertrap CLI: output frames answer further actions after write and metrics") {
    (writtenFrames :+ ("wide" -> written.observation.wide)).foreach { case (name, df) =>
      val n = df.count()
      assert(df.collect().length.toLong === n, name)
    }
  }

  test("meertrap CLI: --partition-key narrows to the partition subdirectory when present") {
    // two partition dirs, each a full fixture; a keyed run must only see
    // its own partition's candidates
    val root = Files.createTempDirectory("meertrap_cli_parts")
    val p1 = graft.meertrap.FixtureGen.generate()
    java.nio.file.Files.move(p1, root.resolve("2023-11-20"))
    val all = graft.meertrap.Main.run(spark,
      graft.meertrap.Main.Args(input = root.toString))
    val keyed = graft.meertrap.Main.run(spark,
      graft.meertrap.Main.Args(input = root.toString, partitionKey = "2023-11-20"))
    assert(keyed.candidates.count() === all.candidates.count())
    assert(keyed.candidates.count() > 0)
  }

  test("meertrap CLI: --checkpoint resumes only the scan that built it") {
    val root = Files.createTempDirectory("meertrap_cli_resume")
    Seq("2023-11-20", "2023-11-21").foreach(k =>
      Files.move(graft.meertrap.FixtureGen.generate(), root.resolve(k)))
    val cp = Files.createTempDirectory("meertrap_cli_cp").toString
    def run(key: String) = graft.meertrap.Main.run(spark, graft.meertrap.Main.Args(
      input = root.toString, partitionKey = key, checkpoint = Some(cp)))
    def stageFiles = new java.io.File(cp, "obs_raw").list().toSet
    val first = run("2023-11-20")
    val built = stageFiles
    assert(built.contains("_SUCCESS"))
    // The next day's ingest against the same dir must not return this
    // day's observations.
    val e = intercept[IllegalStateException](run("2023-11-21"))
    assert(e.getMessage.contains("DIFFERENT run"))
    assert(stageFiles === built)
    // The same partition again resumes: the stage is read, not rewritten.
    val again = run("2023-11-20")
    assert(stageFiles === built)
    assert(again.observation.obs.count() === first.observation.obs.count())
    assert(again.candidates.count() === first.candidates.count())
  }

  test("atnf CLI: snapshot run transforms and writes parquet") {
    val csv = Files.createTempDirectory("atnf_cli").resolve("cat.csv")
    Files.writeString(csv,
      """NAME,RAJ,DECJ,DM,W50,P0
        |J0437-4715,04:37:15.99,-47:15:09.7,2.64,0.141,0.005757
        |J0534+2200,05:34:31.97,+22:00:52.06,56.77,3.0,0.033392
        |""".stripMargin)
    val out = Files.createTempDirectory("atnf_cli_out").toString + "/catalogue"
    val args = graft.atnf.Main.parse(Array(
      "--snapshot", csv.toString, "--version", "9.9", "--out", out))
    graft.atnf.Main.run(spark, args)
    val back = spark.read.parquet(out)
    assert(back.count() === 2)
    assert(back.select("`cat.version`").head().getString(0) === "9.9")
  }

  test("atnf CLI: --url fetches VERSION-PINNED — a version bump re-fetches") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val versionsServed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    server.createContext("/cat.csv", (x: HttpExchange) => {
      versionsServed.add(x.getRequestURI.getQuery)
      val body = "NAME,RAJ,DECJ,DM,W50,P0\nJ0437-4715,04:37:15.99,-47:15:09.7,2.64,0.141,0.005757\n"
        .getBytes("UTF-8")
      x.sendResponseHeaders(200, body.length)
      x.getResponseBody.write(body); x.close()
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/cat.csv"
      val snapDir = Files.createTempDirectory("atnf_cli_live")
      def runV(v: String) = graft.atnf.Main.run(spark, graft.atnf.Main.Args(
        snapshot = snapDir.toString, url = Some(url), version = v))
      assert(runV("1.0").select("`cat.version`").head().getString(0) === "1.0")
      // the version reached the request URL, and the snapshot is per-version
      assert(versionsServed.toArray.toSeq === Seq("version=1.0"))
      assert(Files.exists(snapDir.resolve("atnf_v1.0.csv")))
      runV("1.0")          // same version: snapshot reused, no new request
      assert(versionsServed.size === 1)
      runV("2.0")          // version bump: MUST re-fetch, not reuse v1.0
      assert(versionsServed.toArray.toSeq === Seq("version=1.0", "version=2.0"))
      assert(Files.exists(snapDir.resolve("atnf_v2.0.csv")))
    } finally server.stop(0)
  }

  test("CLI arg parsing rejects unknown flags and missing required ones") {
    intercept[RuntimeException] { graft.meertrap.Main.parse(Array("--bogus", "x")) }
    intercept[IllegalArgumentException] { graft.meertrap.Main.parse(Array.empty) }
    intercept[RuntimeException] { graft.atnf.Main.parse(Array("--nope", "y")) }
    intercept[IllegalArgumentException] { graft.atnf.Main.parse(Array.empty) }
  }
}
