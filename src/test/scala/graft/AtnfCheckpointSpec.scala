package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.atnf.AtnfTransform
import graft.load.Targets

class AtnfCheckpointSpec extends SparkSuite {

  private def c(n: String) = col(s"`$n`")

  test("ATNF pipeline: extract -> transform -> target views (reference atnf/atnf.py)") {
    val csv = Files.createTempDirectory("atnf").resolve("cat.csv")
    Files.writeString(csv,
      """NAME,RAJ,DECJ,DM,W50,P0
        |J0437-4715,04:37:15.99,-47:15:09.7,2.64,0.141,0.005757
        |J0534+2200,05:34:31.97,+22:00:52.06,56.77,3.0,0.033392
        |""".stripMargin)
    val visited = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val out = AtnfTransform.transform(
      AtnfTransform.extract(spark, csv.toString, visited))

    assert(out.count() === 2)
    val r = out.orderBy(c("known_ps.name")).head()
    val ra  = r.getAs[Double]("known_ps.ra")
    val dec = r.getAs[Double]("known_ps.dec")
    assert(math.abs(ra - (4 + 37 / 60.0 + 15.99 / 3600.0) * 15.0) < 1e-4)
    assert(math.abs(dec - -(47 + 15 / 60.0 + 9.7 / 3600.0)) < 1e-4)
    assert(r.getAs[String]("known_ps.pos").startsWith("("))

    val view = Targets.targetView(out, Targets.atnf.find(_.table == "known_pulsar").get)
    assert(view.columns.contains("name") && view.columns.contains("known_pulsar_id"))
    assert(view.count() === 2)
  }

  test("known_pulsar_id is exactly 1..n in known_ps.name order") {
    import spark.implicits._
    val csv = Files.createTempDirectory("atnf_ids").resolve("cat.csv")
    val names = Seq("J1939+2134", "B0531+21", "J0437-4715", "J2145-0750", "J0034-0534")
    Files.writeString(csv, ("NAME,RAJ,DECJ,DM,W50,P0" +:
      names.map(n => s"$n,04:37:15.99,-47:15:09.7,2.64,0.141,0.005757")).mkString("", "\n", "\n"))
    val got = AtnfTransform.extract(spark, csv.toString,
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))
      .select(c("known_pulsar_id"), c("known_ps.name")).as[(Long, String)].collect()
      .sortBy(_._1).toSeq
    assert(got === (1L to names.size.toLong).zip(names.sorted))
  }

  test("live HTTP catalogue fetch: retry on 5xx, snapshot reuse, 4xx typed (S7)") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val csvBody =
      """NAME,RAJ,DECJ,DM,W50,P0
        |J0437-4715,04:37:15.99,-47:15:09.7,2.64,0.141,0.005757
        |""".stripMargin.getBytes("UTF-8")
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val hits = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/cat.csv", (x: HttpExchange) => {
      // first attempt 503s — the adapter must retry
      if (hits.incrementAndGet() == 1) { x.sendResponseHeaders(503, -1); x.close() }
      else {
        x.sendResponseHeaders(200, csvBody.length)
        x.getResponseBody.write(csvBody); x.close()
      }
    })
    server.createContext("/gone.csv", (x: HttpExchange) => {
      x.sendResponseHeaders(404, -1); x.close()
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val snap = Files.createTempDirectory("atnf_live").resolve("snapshot.csv")
      val visited = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val df = graft.atnf.CatalogueFetch.extractLive(spark,
        s"http://127.0.0.1:$port/cat.csv", snap, visited)
      assert(df.count() === 1)
      assert(hits.get() === 2)                       // 503 then 200
      // snapshot reuse: no new request without refresh
      graft.atnf.CatalogueFetch.extractLive(spark,
        s"http://127.0.0.1:$port/cat.csv", snap, visited).count()
      assert(hits.get() === 2)
      // refresh forces a refetch
      graft.atnf.CatalogueFetch.extractLive(spark,
        s"http://127.0.0.1:$port/cat.csv", snap, visited, refresh = true).count()
      assert(hits.get() === 3)
      // 4xx is typed and NOT retried
      val before = hits.get()
      intercept[graft.atnf.CatalogueFetchException] {
        graft.atnf.CatalogueFetch.fetch(s"http://127.0.0.1:$port/gone.csv",
          snap.getParent.resolve("gone.csv"))
      }
      assert(hits.get() === before)                  // different context counter
    } finally server.stop(0)
  }

  test("parameterized catalogue query: param subset projects, NAME always kept") {
    val csv = Files.createTempDirectory("atnf_params").resolve("cat.csv")
    Files.writeString(csv,
      """NAME,RAJ,DECJ,DM,W50,P0
        |J0437-4715,04:37:15.99,-47:15:09.7,2.64,0.141,0.005757
        |""".stripMargin)
    val visited = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val subset = AtnfTransform.extract(spark, csv.toString, visited,
      params = Seq("DM", "P0"))
    assert(subset.columns.toSet === Set("known_ps.name", "known_ps.dm",
      "known_ps.period", "known_pulsar_id", "visit.visited_at"))
    intercept[IllegalArgumentException] {
      AtnfTransform.extract(spark, csv.toString, visited, params = Seq("BOGUS"))
    }
  }

  test("version-pinned live fetch: version in URL and snapshot name, no stale reuse") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    val served = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    server.createContext("/cat.csv", (x: HttpExchange) => {
      served.add(x.getRequestURI.toString)
      val v = Option(x.getRequestURI.getQuery).getOrElse("")
        .split("&").find(_.startsWith("version=")).map(_.drop(8)).getOrElse("?")
      val body = s"NAME,RAJ,DECJ,DM,W50,P0\nJ$v,04:37:15.99,-47:15:09.7,1.0,1.0,1.0\n"
        .getBytes("UTF-8")
      x.sendResponseHeaders(200, body.length)
      x.getResponseBody.write(body); x.close()
    })
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}/cat.csv"
      val dir = Files.createTempDirectory("atnf_ver")
      val visited = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
      val v1 = graft.atnf.CatalogueFetch.extractLiveVersioned(spark, base, "2.3.0", dir, visited)
      assert(v1.select("`known_ps.name`").head().getString(0) === "J2.3.0")
      // a DIFFERENT version must fetch anew (own URL + own snapshot file)…
      val v2 = graft.atnf.CatalogueFetch.extractLiveVersioned(spark, base, "2.4.0", dir, visited)
      assert(v2.select("`known_ps.name`").head().getString(0) === "J2.4.0")
      assert(Files.exists(dir.resolve("atnf_v2.3.0.csv")))
      assert(Files.exists(dir.resolve("atnf_v2.4.0.csv")))
      assert(served.size() === 2)
      assert(served.stream().anyMatch(_.contains("version=2.3.0")))
      // …while the SAME version reuses its snapshot (no third request).
      graft.atnf.CatalogueFetch.extractLiveVersioned(spark, base, "2.3.0", dir, visited).count()
      assert(served.size() === 2)
      intercept[IllegalArgumentException] {
        graft.atnf.CatalogueFetch.extractLiveVersioned(spark, base, "../evil", dir, visited)
      }
    } finally server.stop(0)
  }
}
