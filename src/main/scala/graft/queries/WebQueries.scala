package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.corpus.{CrawlPipeline, ReleasePipeline}
import graft.functions.{HtmlLinksExpr, UrlFns}
import graft.operators.{Domains, LinkGraph}
import graft.sources.Warc

/** URL/domain-aware corpus operators on the driver surface. The
  * documents table carries no URL column, so — the q71/q97 in-plan
  * injection convention — a deterministic messy URL is constructed
  * from `doc_id` inside the plan (mixed-case scheme/host, `www.`,
  * default and non-default ports, trailing slashes, tracking params,
  * fragments), the REAL operators canonicalize/cap/mix over it, and
  * the DuckDB oracle builds the identical URL and mirrors the
  * canonicalization regex pipeline verbatim — so every branch of the
  * canonical form is exercised and hash-checked.
  */
object WebQueries {

  /** Deterministic messy URL from doc_id, exercising every
    * canonicalization branch. Port cases line up with the scheme
    * derivation (`%6==0 -> :443` falls on `%3==0` https docs,
    * `%6==2 -> :80` on http docs — both stripped; `%6==3 -> :8080`
    * survives).
    */
  private[graft] def injectedUrl: Column = injectedUrlOn(col("doc_id"))

  /** The same messy URL over an arbitrary id expression (q124 folds the
    * id to force canonical collisions).
    */
  private[graft] def injectedUrlOn(id: Column): Column = {
    concat(
      when(pmod(id, lit(3)) === 0, lit("HTTPS")).otherwise(lit("http")),
      lit("://"),
      when(pmod(id, lit(4)) === 0, lit("WWW.")).otherwise(lit("")),
      lit("Site"), pmod(id, lit(25)).cast("string"),
      lit(".Example"), pmod(id, lit(5)).cast("string"), lit(".Com"),
      when(pmod(id, lit(6)) === 0, lit(":443"))
        .when(pmod(id, lit(6)) === 2, lit(":80"))
        .when(pmod(id, lit(6)) === 3, lit(":8080"))
        .otherwise(lit("")),
      lit("/A/"), pmod(id, lit(17)).cast("string"),
      when(pmod(id, lit(2)) === 0, lit("/")).otherwise(lit("")),
      when(pmod(id, lit(5)) === 0,
          concat(lit("?utm_source=news&id="), pmod(id, lit(11)).cast("string")))
        .when(pmod(id, lit(5)) === 1,
          concat(lit("?id="), pmod(id, lit(11)).cast("string"), lit("&utm_campaign=x")))
        .when(pmod(id, lit(5)) === 2, lit("?utm_medium=a&utm_term=b"))
        .otherwise(lit("")),
      when(pmod(id, lit(9)) === 0, lit("#Sec1")).otherwise(lit("")))
  }

  /** The q142/q144 per-host robots frame, derived from a frame carrying
    * `hostname`: each host's body is thick with decoys (rules before any
    * group, a BadBot `Disallow: /`, comments, an unknown directive, an
    * empty `Disallow:`) and the `*` rules derive from the host index in
    * closed form — a plain prefix disallow, a `$`-anchored re-allow of
    * the exact slash path, and a `*`-wildcard disallow.
    */
  private def injectedRobotsFor(docs: DataFrame): DataFrame = {
    val hosts = docs.select("hostname").distinct()
      .withColumn("h",
        regexp_extract(col("hostname"), "^site(\\d+)\\.", 1).cast("int"))
    hosts.select(col("hostname").as("host"),
      concat(
        lit("Disallow: /decoy-before-any-group\n# robots for host "),
        col("h").cast("string"),
        lit("\nUser-Agent: BadBot\nDisallow: /\n\n" +
          "user-agent: *  # the group we honor\ncrawl-delay: 5\n" +
          "Disallow: /A/"),
        pmod(col("h"), lit(17)).cast("string"),
        lit("\nAllow: /A/"), pmod(col("h"), lit(17)).cast("string"),
        lit("/$\ndisallow: /A/*"), pmod(col("h"), lit(5)).cast("string"),
        lit("$\nDisallow:\n")).as("robots_txt"))
  }

  /** The oracle's identical URL construction in DuckDB SQL, over an
    * arbitrary id expression.
    */
  private def urlSqlOn(id: String): String =
    s"""(CASE WHEN $id%3=0 THEN 'HTTPS' ELSE 'http' END) || '://' ||
      |(CASE WHEN $id%4=0 THEN 'WWW.' ELSE '' END) ||
      |'Site' || CAST($id%25 AS VARCHAR) || '.Example' || CAST($id%5 AS VARCHAR) || '.Com' ||
      |(CASE WHEN $id%6=0 THEN ':443' WHEN $id%6=2 THEN ':80' WHEN $id%6=3 THEN ':8080' ELSE '' END) ||
      |'/A/' || CAST($id%17 AS VARCHAR) ||
      |(CASE WHEN $id%2=0 THEN '/' ELSE '' END) ||
      |(CASE WHEN $id%5=0 THEN '?utm_source=news&id=' || CAST($id%11 AS VARCHAR)
      |      WHEN $id%5=1 THEN '?id=' || CAST($id%11 AS VARCHAR) || '&utm_campaign=x'
      |      WHEN $id%5=2 THEN '?utm_medium=a&utm_term=b'
      |      ELSE '' END) ||
      |(CASE WHEN $id%9=0 THEN '#Sec1' ELSE '' END)""".stripMargin
      .replaceAll("\n", " ")

  private val urlSql = urlSqlOn("doc_id")

  /** The oracle's mirror of the [[UrlFns]] regex pipeline: parts
    * extracted from a column named `url`, producing sch/host/path/q.
    */
  private val partsSql =
    """lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |regexp_replace(lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^www\.', '') AS hp,
      |regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/+$', '') AS path,
      |regexp_replace(regexp_replace(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*[^?#]*\?([^#]*)', 1), '(^|&)(utm_[A-Za-z0-9_]*|gclid|fbclid|ref|mc_cid|mc_eid)=[^&]*', '', 'g'), '^&', '') AS q""".stripMargin
      .replaceAll("\n", " ")

  private val hostSql =
    """CASE WHEN sch='http' THEN regexp_replace(hp, ':80$', '')
      |     WHEN sch='https' THEN regexp_replace(hp, ':443$', '')
      |     ELSE hp END""".stripMargin.replaceAll("\n", " ")

  /** Deterministic HTML page with injected links (the q127 idiom,
    * aimed at `html_links`): two links per doc — double-quoted href
    * with an `&amp;` query entity and an anchor carrying an inline tag
    * + entity; uppercase `<A HREF='…'>` single-quoted with
    * whitespace-run anchor — plus a third unquoted-href link on every
    * 3rd doc, wrapped in decoys the extractor must skip (script'd
    * anchor, comment'd anchor, `<a name=…>` without href).
    */
  private[graft] def injectedLinksHtml: Column = {
    val id = col("doc_id")
    concat(
      lit("<html><head><title>T</title><script>var a=\"" +
        "<a href='http://decoy.example/x'>d</a>\";</script></head>" +
        "<body><p>intro</p>"),
      lit("<a href=\"http://h"), pmod(id * 3 + 1, lit(7)).cast("string"),
      lit(".example/p/"), id.cast("string"),
      lit("?a=1&amp;b=2\">Link <b>"), id.cast("string"),
      lit("</b> &amp; more</a>"),
      lit("<a name=\"x\">no link</a>" +
        "<!-- <a href=\"http://c.example/\">c</a> -->"),
      lit("<A HREF='http://h"), pmod(id * 5 + 2, lit(7)).cast("string"),
      lit(".example/q/"), id.cast("string"), lit("'> second   link </A>"),
      when(pmod(id, lit(3)) === 0,
          concat(lit("<a rel=nofollow href=http://h"),
            pmod(id * 2 + 3, lit(7)).cast("string"),
            lit(".example/r/"), id.cast("string"),
            lit(" target=_blank>plain</a>")))
        .otherwise(lit("")),
      lit("</body></html>"))
  }

  /** The oracle's closed form of [[injectedLinksHtml]]'s extraction:
    * (link_idx, href, anchor) per doc — entity already decoded, anchor
    * already whitespace-collapsed per the html_text contract.
    */
  private val linksSql =
    """SELECT doc_id, 0 AS link_idx,
      |  'http://h' || CAST((doc_id*3+1)%7 AS VARCHAR) || '.example/p/' ||
      |    CAST(doc_id AS VARCHAR) || '?a=1&b=2' AS href,
      |  'Link ' || CAST(doc_id AS VARCHAR) || ' & more' AS anchor
      |FROM documents
      |UNION ALL
      |SELECT doc_id, 1,
      |  'http://h' || CAST((doc_id*5+2)%7 AS VARCHAR) || '.example/q/' ||
      |    CAST(doc_id AS VARCHAR),
      |  'second link' FROM documents
      |UNION ALL
      |SELECT doc_id, 2,
      |  'http://h' || CAST((doc_id*2+3)%7 AS VARCHAR) || '.example/r/' ||
      |    CAST(doc_id AS VARCHAR),
      |  'plain' FROM documents WHERE doc_id%3=0""".stripMargin
      .replaceAll("\n", " ")

  def defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // URL canonicalization: every branch (case folding, www, default
    // vs non-default ports, trailing slash, tracking-param removal with
    // survivor order preserved, fragment drop) hash-checked per doc.
    "q115_url_canonical" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .select(col("doc_id"), col("url"),
          UrlFns.canonicalUrl(col("url")).as("curl"),
          UrlFns.urlHost(col("url")).as("host"))
        .orderBy("doc_id")
    }),

    // Per-domain cap: at most 3 docs per canonical host, deterministic
    // lowest-id-first — the window rule the oracle mirrors exactly.
    "q116_domain_cap" -> ((s, dir) => {
      val withHost = Tables(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .select(col("doc_id"), UrlFns.urlHost(col("url")).as("host"))
      Domains.perDomainCap(withHost, "host", "doc_id", cap = 3)
        .orderBy("doc_id")
    }),

    // Domain-stratified mixing: per-host deterministic hash fractions
    // (all of one host, a quarter of another, 1/16 of the rest) —
    // summarized per host so the oracle checks both the predicate and
    // the stratum routing.
    "q117_domain_mix" -> ((s, dir) => {
      val withHost = Tables(s, dir, "documents")
        .select(col("doc_id"), injectedUrl.as("url"))
        .select(col("doc_id"), UrlFns.urlHost(col("url")).as("host"))
      Domains.domainStratifiedSample(withHost, "host", "doc_id",
          Map("site1.example1.com" -> 1.0, "site7.example2.com" -> 0.25),
          defaultFraction = 0.0625)
        .groupBy("host")
        .agg(count(lit(1)).as("n_kept"), min("doc_id").as("min_doc_id"))
        .orderBy("host")
    }),

    // URL-level dedup + domain blocklist: ids fold mod 60 so canonical
    // collisions actually occur (re-fetches / scheme+tracking variants
    // collapse, keep-lowest-id); the blocklist drops a whole registrable
    // domain by suffix (every site*.example3.com host) plus one exact
    // host, matched on the port-stripped hostname.
    "q124_url_dedup" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          injectedUrlOn(pmod(col("doc_id"), lit(60))).as("url"))
        .withColumn("host", UrlFns.urlHost(col("url")))
        .withColumn("hostname", regexp_replace(col("host"), ":\\d+$", ""))
      val unblocked = Domains.applyBlocklist(docs, "hostname",
        Seq("example3.com", "site6.example1.com"))
      Domains.dedupByCanonicalUrl(unblocked, "url", "doc_id")
        .select(col("doc_id"), col("host"),
          UrlFns.canonicalUrl(col("url")).as("curl"))
        .orderBy("doc_id")
    }),

    "q128_crawl_release" -> mkQ128(gated = true),

    // Outlink extraction: html_links over the injected page — every
    // href form, entity decode in href AND anchor, anchor whitespace
    // contract, and all three decoys, hash-checked per (doc, link).
    "q135_link_extract" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(HtmlLinksExpr.htmlLinks(injectedLinksHtml)))
        .select(col("doc_id"), col("pos").cast("long").as("link_idx"),
          col("col.href").as("href"), col("col.anchor").as("anchor"))
        .orderBy("doc_id", "link_idx")
    }),

    // The link graph: extracted edges aggregated to (src_host,
    // dst_host) with link and distinct-doc counts — html_links composed
    // with the REAL urlHost parse, cross-checked against the oracle's
    // closed-form modular host arithmetic (the parse must invert the
    // injection exactly).
    "q136_anchor_graph" -> ((s, dir) => {
      Tables(s, dir, "documents")
        .select(
          concat(lit("h"), pmod(col("doc_id"), lit(7)).cast("string"),
            lit(".example")).as("src_host"),
          col("doc_id"),
          explode(HtmlLinksExpr.htmlLinks(injectedLinksHtml)).as("link"))
        .select(col("src_host"), col("doc_id"),
          UrlFns.urlHost(col("link.href")).as("dst_host"))
        .groupBy("src_host", "dst_host")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy("src_host", "dst_host")
    }),

    // PageRank over a doc-level link graph (two arithmetic outlinks per
    // doc, every 5th doc dangling): 3 damped iterations with full
    // dangling-mass redistribution, hash-checked per node against the
    // oracle's three UNROLLED iterations of the identical update rule —
    // contributions, dangling term, and teleport all float-exact to the
    // 8dp rounding.
    "q138_pagerank" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents").select(col("doc_id"))
      // doc_ids are contiguous 0..n-1 (TESTDATA contract), so % n keeps
      // every edge inside the node universe; the count is the same
      // bounded scalar pageRank itself needs
      val n = docs.count()
      val base = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
      val edges = base.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 17 + 3, lit(n)).as("dst"))
        .union(base.select(col("doc_id").as("src"),
          pmod(col("doc_id") * 29 + 7, lit(n)).as("dst")))
      LinkGraph.pageRank(edges, "src", "dst", iterations = 3,
          damping = 0.85, nodes = Some(docs))
        .select(col("node").as("doc_id"), round(col("rank"), 8).as("rank"))
        .orderBy("doc_id")
    }),

    // Domain-level quality curation (the RefinedWeb/CCNet order: judge
    // the DOMAIN, then keep or drop its docs wholesale): per-host doc
    // count + mean quality score gate which hosts survive; kept docs
    // emitted with their host and score. One host-keyed stats shuffle
    // over a domain-cardinality frame + a broadcast semi-join — the
    // corpus itself never shuffles. Thresholds chosen so BOTH conditions
    // bite at sf0.01 (minDocs cuts the 3-doc :8080 hosts, the mean cuts
    // the low-quality tail).
    "q141_domain_quality" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          UrlFns.urlHost(injectedUrl).as("hostname"))
        .withColumn("score",
          graft.functions.TextFns.qualityScore(col("text")))
      Domains.domainQualityFilter(docs, "hostname", "score",
          minDocs = 4L, minMeanScore = 0.82)
        .select(col("doc_id"), col("hostname"), col("score"))
        .orderBy("doc_id")
    }),

    // robots.txt compliance filter over the injected-URL corpus: each
    // host gets an in-plan robots body (decoy rules BEFORE any group, a
    // BadBot group with "Disallow: /", comments, an unknown directive,
    // an empty Disallow — all of which the parser must ignore) whose *
    // rules derive from the host index in closed form; the oracle
    // re-derives every doc's verdict from the same arithmetic (prefix
    // match + the $-anchored allow + the * wildcard, longest-match
    // precedence). A wrong parse (e.g. honoring BadBot's "Disallow: /")
    // empties the result and hash-fails loudly.
    "q142_robots_filter" -> ((s, dir) => {
      val docs = Tables(s, dir, "documents")
        .select(col("doc_id"),
          UrlFns.urlHost(injectedUrl).as("hostname"),
          UrlFns.urlRawPath(injectedUrl).as("path"))
      Domains.applyRobots(docs, "hostname", "path", injectedRobotsFor(docs))
        .select(col("doc_id"), col("hostname"), col("path"))
        .orderBy("doc_id")
    }),

    // The ORACLED web-curation composition (the oracled counterpart of
    // the gated q128 capstone's web half): blocklist → robots →
    // domain-level quality gate → per-domain cap, every stage's verdict
    // re-derived in closed form in one DuckDB CTE chain. Stage order is
    // the production order (cheap map-side drops first; quality means
    // computed over the COMPLIANT survivors — the oracle mirrors that
    // sequencing exactly, so a stage-order bug hash-fails). Thresholds
    // chosen so every stage bites at sf0.01.
    "q144_web_curation" -> ((s, dir) => {
      val base = Tables(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("text"),
          UrlFns.urlHost(injectedUrl).as("hostname"),
          UrlFns.urlRawPath(injectedUrl).as("path"))
      val unblocked = Domains.applyBlocklist(base, "hostname",
        Seq("example3.com"))
      val polite = Domains.applyRobots(unblocked, "hostname", "path",
        injectedRobotsFor(unblocked))
      val scored = polite.withColumn("score",
        graft.functions.TextFns.qualityScore(col("text")))
      val curated = Domains.domainQualityFilter(scored, "hostname", "score",
        minDocs = 3L, minMeanScore = 0.8)
      Domains.perDomainCap(curated, "hostname", "doc_id", cap = 10)
        .select(col("doc_id"), col("hostname"), col("score"))
        .orderBy("doc_id")
    }),

    // Anchor-document construction (anchor text as document expansion —
    // the classic IR signal): all anchors pointing at a target host,
    // rolled into one fingerprinted anchor doc per target. One explode
    // + one host-keyed shuffle; at 100 TB you keep the exploded
    // (target, anchor) frame and index it — the commutative multiset
    // fingerprint (sum + xor of 48-bit anchor hashes,
    // [[graft.corpus.Export.idFingerprint]]) is partial-agged and
    // constant-space per host, so a mega-host costs bytes of state,
    // never a buffered anchor list.
    "q139_anchor_docs" -> ((s, dir) => {
      val h = graft.corpus.Export.idFingerprint(col("anchor"))
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(HtmlLinksExpr.htmlLinks(injectedLinksHtml)).as("link"))
        .select(UrlFns.urlHost(col("link.href")).as("dst_host"),
          col("link.anchor").as("anchor"))
        .groupBy("dst_host")
        .agg(count(lit(1)).as("n_anchors"),
          countDistinct(col("anchor")).as("n_distinct"),
          sum(h.cast("decimal(38,0)")).cast("decimal(38,0)")
            .cast("string").as("anchor_fp_sum"),
          bit_xor(h).as("anchor_fp_xor"))
        .orderBy("dst_host")
    })
  )

  /** Gate-free serving variants (Bench's serving/gate split). */
  def serving: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q128_crawl_release" -> mkQ128(gated = false)
  )

  /** The crawl-to-release CAPSTONE: the brief's end-to-end story as one
    * driver-visible composition — gzipped WARC blobs → parse → HTTP
    * split → HTML→text extraction → domain blocklist → canonical-URL
    * dedup → per-domain cap → the full release battery
    * ([[CrawlPipeline.run]]). The crawl builds in-plan from `documents`
    * (the q121/q126 convention): per doc, a messy URL with canonical
    * collisions (ids fold mod 3, so re-fetch variants exist and URL
    * dedup must keep the lowest id), a full HTML page with script/title
    * decoys wrapping the escaped text, an HTTP 200 envelope, one gzip
    * member per record, 37 "files".
    *
    * Gated on the q82/q114 convention: an independent recomposition
    * derives the SAME documents straight from the table — the expected
    * extracted text in closed form (title + whitespace-collapsed text,
    * the extraction contract), the web stages as direct operator calls,
    * the release battery a second time — and the final corpora must
    * match id-for-id. The recomposition never touches a WARC byte, so
    * parity verifies the entire gzip → WARC → HTTP → HTML byte path AND
    * the stage threading; any framing, decompression, extraction, or
    * composition error surfaces as a doc whose text (and therefore
    * dedup/quality fate) diverges, emitting zero rows.
    */
  private def mkQ128(gated: Boolean): (SparkSession, String) => DataFrame =
    (s, dir) => {
      import s.implicits._
      val blocked = Seq("example3.com", "site6.example1.com")
      val cap = 25
      val docs0 = Tables(s, dir, "documents").where(col("text").isNotNull)
      val bench = docs0.where(pmod(col("doc_id"), lit(97)) === 0)
      val cand = docs0.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val url = injectedUrlOn(col("doc_id") - pmod(col("doc_id"), lit(3)))
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<!DOCTYPE html><html><head><title>t</title>" +
          "<script>var x = \"<p>&amp;\";</script></head><body><p>"),
        esc, lit("</p></body></html>"))
      val typed = cand
        .select(pmod(col("doc_id"), lit(37)).as("file_id"), col("doc_id"),
          url.as("url"), html.as("html"))
        .as[(Long, Long, String, String)]
      val files = typed.groupByKey(_._1).mapGroups { (fid, it) =>
        val out = new java.io.ByteArrayOutputStream()
        it.toSeq.sortBy(_._2).foreach { case (_, id, u, h) =>
          val payload = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + h)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          out.write(Warc.gzipMember(
            Warc.render("response", s"<urn:graft:$id>", u, payload)))
        }
        (s"mem://$fid.warc.gz", out.toByteArray)
      }.toDF("path", "content")
      val res = CrawlPipeline.run(files, bench,
        docId = regexp_extract(col("record_id"), "<urn:graft:(\\d+)>", 1)
          .cast("long"),
        web = CrawlPipeline.WebConfig(blockedHosts = blocked, domainCap = cap),
        release = ReleasePipeline.Config())
      val out =
        if (!gated) res.release.corpus
        else {
          // the closed-form expected extraction: the page is one <p>
          // block under a constant title, so extracted text = "t\n" +
          // the text with ALL whitespace runs collapsed to single
          // spaces and ends trimmed (the html_text whitespace contract)
          val norm = trim(regexp_replace(col("text"), "\\s+", " "))
          val expText = when(norm === "", lit("t"))
            .otherwise(concat(lit("t\n"), norm))
          val expDocs = cand.select(col("doc_id"), url.as("url"),
            UrlFns.urlHost(url).as("host"), expText.as("text"))
          val reCleaned = Domains.perDomainCap(
            Domains.dedupByCanonicalUrl(
              Domains.applyBlocklist(expDocs, "host", blocked),
              "url", "doc_id"),
            "host", "doc_id", cap)
          val reRel = ReleasePipeline.run(
            reCleaned.select(col("doc_id"), col("text")), bench,
            ReleasePipeline.Config())
          Gates.setParity(res.release.corpus, reRel.corpus, "doc_id")
        }
      out.select(col("doc_id"),
          graft.functions.TextFns.tokenCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }

  def oracles: Map[String, String] = Map(
    "q115_url_canonical" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         | p AS (SELECT doc_id, url, $partsSql FROM u),
         | c AS (SELECT doc_id, url, sch, path, q, $hostSql AS host FROM p)
         | SELECT doc_id, url,
         |   sch || '://' || host || path ||
         |     (CASE WHEN q='' THEN '' ELSE '?' || q END) AS curl,
         |   host
         | FROM c ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    "q116_domain_cap" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         | p AS (SELECT doc_id, url, $partsSql FROM u),
         | c AS (SELECT doc_id, $hostSql AS host FROM p),
         | r AS (SELECT doc_id, host,
         |   row_number() OVER (PARTITION BY host ORDER BY doc_id) AS rn FROM c)
         | SELECT doc_id, host FROM r WHERE rn <= 3 ORDER BY doc_id""".stripMargin
        .replaceAll("\n", " "),
    "q117_domain_mix" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         | p AS (SELECT doc_id, url, $partsSql FROM u),
         | c AS (SELECT doc_id, $hostSql AS host FROM p)
         | SELECT host, count(*) AS n_kept, min(doc_id) AS min_doc_id
         | FROM c
         | WHERE md5(CAST(doc_id AS VARCHAR)) < CASE host
         |   WHEN 'site1.example1.com' THEN 'ffffffffffffffffffffffffffffffff'
         |   WHEN 'site7.example2.com' THEN '40000000000000000000000000000000'
         |   ELSE '10000000000000000000000000000000' END
         | GROUP BY host ORDER BY host""".stripMargin.replaceAll("\n", " "),
    "q124_url_dedup" ->
      s"""WITH u AS (SELECT doc_id, ${urlSqlOn("(doc_id%60)")} AS url FROM documents),
         | p AS (SELECT doc_id, url, $partsSql FROM u),
         | c AS (SELECT doc_id, url, sch, path, q, $hostSql AS host FROM p),
         | h AS (SELECT doc_id, host,
         |   regexp_replace(host, ':[0-9]+$$', '') AS hostname,
         |   sch || '://' || host || path ||
         |     (CASE WHEN q='' THEN '' ELSE '?' || q END) AS curl FROM c),
         | nb AS (SELECT * FROM h WHERE NOT (
         |   hostname = 'example3.com' OR hostname LIKE '%.example3.com' OR
         |   hostname = 'site6.example1.com' OR hostname LIKE '%.site6.example1.com')),
         | r AS (SELECT doc_id, host, curl,
         |   row_number() OVER (PARTITION BY curl ORDER BY doc_id) AS rn FROM nb)
         | SELECT doc_id, host, curl FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin
        .replaceAll("\n", " "),
    "q135_link_extract" ->
      s"""WITH l AS ($linksSql)
         | SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, href, anchor
         | FROM l ORDER BY doc_id, link_idx""".stripMargin.replaceAll("\n", " "),
    "q136_anchor_graph" ->
      s"""WITH l AS ($linksSql),
         | e AS (SELECT 'h' || CAST(doc_id%7 AS VARCHAR) || '.example' AS src_host,
         |   'h' || CAST(CASE link_idx WHEN 0 THEN (doc_id*3+1)%7
         |     WHEN 1 THEN (doc_id*5+2)%7 ELSE (doc_id*2+3)%7 END AS VARCHAR) ||
         |     '.example' AS dst_host, doc_id FROM l)
         | SELECT src_host, dst_host, count(*) AS n_links,
         |   count(DISTINCT doc_id) AS n_docs
         | FROM e GROUP BY src_host, dst_host ORDER BY src_host, dst_host""".stripMargin
        .replaceAll("\n", " "),
    "q138_pagerank" -> {
      // one PageRank iteration, unrolled: rPrev -> cK (contributions),
      // dK (dangling mass), rK (update) — the exact float composition
      // the operator computes
      def iter(k: Int): String = {
        val (p, c, d, r) = (s"r${k - 1}", s"c$k", s"d$k", s"r$k")
        s"""$c AS (SELECT e.dst AS node, sum(r.rank/od.od) AS cs
           | FROM e JOIN $p r ON e.src=r.node JOIN od ON e.src=od.src
           | GROUP BY e.dst),
           |$d AS (SELECT coalesce(sum(r.rank),0) AS dm FROM $p r
           | LEFT JOIN od ON r.node=od.src WHERE od.src IS NULL),
           |$r AS (SELECT nodes.node,
           | (1-0.85)/(SELECT n FROM nn) + 0.85*(coalesce($c.cs,0) +
           |   (SELECT dm FROM $d)/(SELECT n FROM nn)) AS rank
           | FROM nodes LEFT JOIN $c ON nodes.node=$c.node)""".stripMargin
      }
      s"""WITH nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |nodes AS (SELECT doc_id AS node FROM documents),
         |e AS (SELECT doc_id AS src,
         |   (doc_id*17+3)%(SELECT count(*) FROM documents) AS dst
         | FROM documents WHERE doc_id%5<>0
         | UNION ALL
         | SELECT doc_id, (doc_id*29+7)%(SELECT count(*) FROM documents)
         | FROM documents WHERE doc_id%5<>0),
         |od AS (SELECT src, CAST(count(*) AS DOUBLE) AS od FROM e GROUP BY src),
         |r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank FROM nodes),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node AS doc_id, round(rank, 8) AS rank
         |FROM r3 ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
    },
    "q139_anchor_docs" ->
      s"""WITH l AS ($linksSql),
         | e AS (SELECT 'h' || CAST(CASE link_idx WHEN 0 THEN (doc_id*3+1)%7
         |     WHEN 1 THEN (doc_id*5+2)%7 ELSE (doc_id*2+3)%7 END AS VARCHAR) ||
         |     '.example' AS dst_host, anchor FROM l),
         | h AS (SELECT dst_host, anchor,
         |   CAST('0x' || substr(md5(anchor), 1, 12) AS BIGINT) AS ah FROM e)
         | SELECT dst_host, count(*) AS n_anchors,
         |   count(DISTINCT anchor) AS n_distinct,
         |   CAST(CAST(sum(ah) AS DECIMAL(38,0)) AS VARCHAR) AS anchor_fp_sum,
         |   bit_xor(ah) AS anchor_fp_xor
         | FROM h GROUP BY dst_host ORDER BY dst_host""".stripMargin
        .replaceAll("\n", " "),
    "q141_domain_quality" ->
      s"""WITH u AS (SELECT doc_id, text, $urlSql AS url FROM documents WHERE text IS NOT NULL),
         | p AS (SELECT doc_id, text, url, $partsSql FROM u),
         | c AS (SELECT doc_id, text, $hostSql AS hostname FROM p),
         | m AS (SELECT doc_id, hostname,
         |   CASE WHEN length(text)=0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)/length(text) END AS punct_ratio,
         |   CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\\s+')) END AS n_tok,
         |   CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(regexp_split_to_array(trim(lower(text)),'\\s+'),
         |     t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be'], t))) END AS n_stop
         |  FROM c),
         | s AS (SELECT doc_id, hostname,
         |   round(least(n_tok/20.0, 1.0)*0.5 + greatest(0.0, 1.0 - punct_ratio*4.0)*0.25 +
         |     least((CASE WHEN n_tok=0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE)/n_tok END)*5.0, 1.0)*0.25, 6) AS score
         |  FROM m),
         | d AS (SELECT hostname FROM s GROUP BY hostname
         |   HAVING count(*) >= 4 AND avg(score) >= 0.82)
         | SELECT s.doc_id, s.hostname, s.score FROM s JOIN d USING (hostname)
         | ORDER BY doc_id""".stripMargin.replaceAll("\n", " "),
    // verdict re-derivation: m1 = the plain Disallow prefix, m2 = the
    // $-anchored Allow (exact slash path, always 2 chars longer than
    // m1's pattern so it wins where it matches), m3 = the '/A/*<d>$'
    // wildcard (matches iff the path ends with the digit — slash paths
    // never do, so m2∧m3 is impossible and longest-match reduces to
    // (¬m1 ∧ ¬m3) ∨ m2
    "q142_robots_filter" ->
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         | p AS (SELECT doc_id, url, $partsSql FROM u),
         | c AS (SELECT doc_id, $hostSql AS hostname FROM p),
         | v AS (SELECT doc_id, hostname,
         |   '/A/' || CAST(doc_id%17 AS VARCHAR) ||
         |     (CASE WHEN doc_id%2=0 THEN '/' ELSE '' END) AS path,
         |   CAST((doc_id%25)%17 AS VARCHAR) AS kr,
         |   CAST((doc_id%25)%5 AS VARCHAR) AS d FROM c),
         | w AS (SELECT doc_id, hostname, path,
         |   starts_with(path, '/A/' || kr) AS m1,
         |   (path = '/A/' || kr || '/') AS m2,
         |   ends_with(path, d) AS m3 FROM v)
         | SELECT doc_id, hostname, path FROM w
         | WHERE (NOT m1 AND NOT m3) OR m2 ORDER BY doc_id""".stripMargin
        .replaceAll("\n", " "),
    "q144_web_curation" ->
      s"""WITH u AS (SELECT doc_id, text, $urlSql AS url FROM documents WHERE text IS NOT NULL),
         | p AS (SELECT doc_id, text, url, $partsSql FROM u),
         | c0 AS (SELECT doc_id, text, $hostSql AS hostname FROM p),
         | c AS (SELECT doc_id, text, hostname,
         |   '/A/' || CAST(doc_id%17 AS VARCHAR) ||
         |     (CASE WHEN doc_id%2=0 THEN '/' ELSE '' END) AS path,
         |   CAST((doc_id%25)%17 AS VARCHAR) AS kr,
         |   CAST((doc_id%25)%5 AS VARCHAR) AS d FROM c0),
         | b AS (SELECT * FROM c WHERE NOT (
         |   regexp_replace(hostname, ':[0-9]+$$','') = 'example3.com' OR
         |   ends_with(regexp_replace(hostname, ':[0-9]+$$',''), '.example3.com'))),
         | r AS (SELECT * FROM b WHERE
         |   (NOT starts_with(path, '/A/' || kr) AND NOT ends_with(path, d))
         |   OR path = '/A/' || kr || '/'),
         | m AS (SELECT doc_id, hostname,
         |   CASE WHEN length(text)=0 THEN 0.0 ELSE CAST(length(text) - length(regexp_replace(text,'[[:punct:]]','','g')) AS DOUBLE)/length(text) END AS punct_ratio,
         |   CASE WHEN trim(text)='' THEN 0 ELSE len(regexp_split_to_array(trim(text),'\\s+')) END AS n_tok,
         |   CASE WHEN trim(text)='' THEN 0 ELSE len(list_filter(regexp_split_to_array(trim(lower(text)),'\\s+'),
         |     t -> list_contains(['the','a','an','and','or','of','to','in','is','it','that','this','for','on','with','as','at','by','be'], t))) END AS n_stop
         |  FROM r),
         | s AS (SELECT doc_id, hostname,
         |   round(least(n_tok/20.0, 1.0)*0.5 + greatest(0.0, 1.0 - punct_ratio*4.0)*0.25 +
         |     least((CASE WHEN n_tok=0 THEN 0.0 ELSE CAST(n_stop AS DOUBLE)/n_tok END)*5.0, 1.0)*0.25, 6) AS score
         |  FROM m),
         | g AS (SELECT hostname FROM s GROUP BY hostname
         |   HAVING count(*) >= 3 AND avg(score) >= 0.8),
         | k AS (SELECT s.doc_id, s.hostname, s.score,
         |   row_number() OVER (PARTITION BY s.hostname ORDER BY s.doc_id) AS rn
         |  FROM s JOIN g USING (hostname))
         | SELECT doc_id, hostname, score FROM k WHERE rn <= 10
         | ORDER BY doc_id""".stripMargin.replaceAll("\n", " ")
  )
}
