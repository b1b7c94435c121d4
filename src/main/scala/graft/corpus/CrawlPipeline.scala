package graft.corpus

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{HtmlTextExpr, UrlFns}
import graft.operators.Domains
import graft.sources.Warc

/** Crawl → release: the end-to-end composition a user actually runs on
  * web data — WARC blobs (raw or `.warc.gz`) through content extraction
  * and web-level cleanup into [[ReleasePipeline.run]]'s stage battery.
  * Every stage is one of this library's individually-verified operators;
  * the composition adds no operator of its own (the ReleasePipeline
  * convention), so the 100 TB story is the stages':
  *
  *   1. WARC parse        ([[Warc.records]] — per-file kernel, gzip
  *                          auto-detected, quarantine per record/member)
  *   2. HTTP split        ([[Warc.httpResponses]] — first-CRLF-CRLF byte
  *                          discipline; `response` records only)
  *   3. HTML → text       ([[HtmlTextExpr]] — codegen'd map-side
  *                          extraction; the page URL's host splits off
  *                          for the domain stages)
  *   4. domain blocklist  ([[Domains.applyBlocklist]] — map-side InSet
  *                          suffix probe, cheapest stage so it runs
  *                          FIRST among the web stages: rows it drops
  *                          never reach a shuffle)
  *   5. robots compliance ([[Domains.applyRobots]], optional — rules
  *                          parse once per host and broadcast; the
  *                          corpus filters map-side)
  *   6. URL-level dedup   ([[Domains.dedupByCanonicalUrl]] — one shuffle
  *                          on the canonical key; removes crawl
  *                          re-fetches before any content dedup pays
  *                          for them)
  *   7. per-domain cap    ([[Domains.perDomainCap]] — one host-keyed
  *                          shuffle, WindowGroupLimit-cut)
  *   8. release battery   ([[ReleasePipeline.run]] — PII, quality,
  *                          exact + near dedup, span scrub,
  *                          decontamination, LM floor, packing)
  *
  * Blocklist-before-URL-dedup is safe as well as cheap: a canonical URL
  * group lives on ONE host (the canonical form contains the host), so
  * the blocklist drops whole groups and can never change which survivor
  * the dedup keeps within a surviving group.
  */
object CrawlPipeline {

  /** Web-stage knobs. `domainCap <= 0` disables the cap stage; `robots`
    * (a per-host `(host, robots_txt)` frame — fetch `/robots.txt`
    * alongside the crawl) enables the compliance stage.
    */
  final case class WebConfig(
      blockedHosts: Seq[String] = Nil,
      domainCap: Int = 0,
      robots: Option[DataFrame] = None)

  /** Web-stage survivor counts. `pages` counts parsed response pages
    * (post-extraction), the web stages' input.
    */
  final case class WebStats(pages: Long, afterBlocklist: Long, afterWebClean: Long)

  /** `docs`: the web-clean survivors (doc_id, url, host, text) — what
    * the release battery consumed; `release`: the full
    * [[ReleasePipeline.Result]] over them.
    */
  final case class Result(docs: DataFrame, release: ReleasePipeline.Result,
      webStatsFn: () => WebStats) {
    /** Web-stage survivor counts, computed on FIRST ACCESS (the
      * [[ReleasePipeline.Result.stats]] convention — 3 count jobs only
      * stat-reading callers pay).
      */
    lazy val webStats: WebStats = webStatsFn()
  }

  /** WARC blobs → per-page text docs: parse (gzip auto-detected), keep
    * valid `response` records, split the HTTP envelope, extract main
    * content from the HTML body — (doc_id, url, host, text), all
    * map-side after the parse kernel. `docId` assigns the document key
    * from the record columns (path, offset, record_id, target_uri —
    * default: a 64-bit hash of the globally-unique record id; callers
    * with structured record ids extract their own).
    */
  def pageDocs(files: DataFrame,
               docId: Column = xxhash64(col("record_id"))): DataFrame =
    pageDocsFromRecords(Warc.records(files), docId)

  /** [[pageDocs]] over an already-parsed [[Warc.records]] frame — the
    * entry the streaming drain uses ([[Warc.readStream]] emits the
    * record frame directly).
    */
  def pageDocsFromRecords(records: DataFrame,
               docId: Column = xxhash64(col("record_id"))): DataFrame = {
    // Wire-unwrap order is the reverse of wire-apply order: dechunk
    // (Transfer-Encoding frames the outermost layer — charset-decoding
    // hex size lines as content shreds the page), then Content-Encoding
    // decompression (real captures carry `Content-Encoding: gzip`
    // constantly; without this stage they reach the charset decode as
    // compressed bytes and extract as mojibake), then the charset-aware
    // decode (BOM > Content-Type charset > <meta> sniff > UTF-8): real
    // crawls are a charset zoo, and a blind UTF-8 cast turns every
    // Latin-1/cp1252/Shift-JIS page into replacement chars before
    // extraction ever sees it. Missing headers → "" (the kernels treat
    // it as no declaration). All map-side, same stage as the extraction
    // itself. An undecodable compressed body nulls through to a null
    // text row (the decompress quarantine contract).
    val dechunked = graft.functions.HttpDecodeExpr.dechunkHttpBody(
      col("http_body"),
      coalesce(element_at(col("http_headers"), lit("transfer-encoding")),
        lit("")))
    val decompressed = graft.functions.HttpDecodeExpr.decompressHttpBody(
      dechunked,
      coalesce(element_at(col("http_headers"), lit("content-encoding")),
        lit("")))
    val decoded = graft.functions.HttpDecodeExpr.decodeHttpBody(
      decompressed,
      coalesce(element_at(col("http_headers"), lit("content-type")), lit("")))
    Warc.httpResponses(records)
      .select(docId.as("doc_id"),
        col("target_uri").as("url"),
        UrlFns.urlHost(col("target_uri")).as("host"),
        HtmlTextExpr.htmlText(decoded).as("text"))
  }

  /** Web-level cleanup in cost order: blocklist (map-side InSet) →
    * robots compliance (map-side after a domain-cardinality broadcast)
    * → canonical-URL dedup (one shuffle) → per-domain cap (one
    * shuffle). Input needs (doc_id, url, host) — [[pageDocs]]' shape.
    *
    * Robots runs BEFORE URL dedup deliberately: compliance is about
    * which FETCHES may be used at all, so a disallowed trailing-slash
    * variant must not win a canonical group (and must not shield its
    * allowed twin from surviving); it also drops rows before the dedup
    * shuffle ever sees them.
    */
  def webClean(docs: DataFrame, cfg: WebConfig): DataFrame = {
    val unblocked = Domains.applyBlocklist(docs, "host", cfg.blockedHosts)
    val polite = cfg.robots match {
      case Some(r) => Domains.applyRobots(
          unblocked.withColumn("__path", UrlFns.urlRawPath(col("url"))),
          "host", "__path", r)
        .drop("__path")
      case None => unblocked
    }
    val urlDeduped = Domains.dedupByCanonicalUrl(polite, "url", "doc_id")
    if (cfg.domainCap <= 0) urlDeduped
    else Domains.perDomainCap(urlDeduped, "host", "doc_id", cfg.domainCap)
  }

  /** Run the whole crawl-to-release workflow. Stage boundaries after
    * the parse kernel and after the web stages are eager
    * `localCheckpoint`s (the ReleasePipeline rationale: the web-clean
    * frames are consumed by both the release battery and the stats
    * counts, and the parse kernel is the single most expensive scan —
    * nothing downstream should ever re-run it).
    */
  def run(files: DataFrame, benchmark: DataFrame,
          docId: Column = xxhash64(col("record_id")),
          web: WebConfig = WebConfig(),
          release: ReleasePipeline.Config = ReleasePipeline.Config()): Result = {
    val pages = pageDocs(files, docId).localCheckpoint(true)
    val unblocked = Domains.applyBlocklist(pages, "host", web.blockedHosts)
    val cleaned = webClean(pages, web).localCheckpoint(true)
    val rel = ReleasePipeline.run(
      cleaned.select(col("doc_id"), col("text")), benchmark, release)
    Result(cleaned, rel,
      () => WebStats(pages.count(), unblocked.count(), cleaned.count()))
  }
}
