package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Domain-level corpus controls: per-domain caps and domain-stratified
  * mixing over a host column (extract it with
  * [[graft.functions.UrlFns.urlHost]]). Web corpora are wildly
  * host-skewed — a handful of domains contribute most of a crawl — so
  * a release pipeline caps and re-weights BY DOMAIN before any
  * content-level scoring sees the data (the CCNet/C4/RefinedWeb
  * ordering).
  */
object Domains {

  /** Keep at most `cap` docs per domain, deterministically (lowest
    * `idCol` first — re-runs and re-partitionings keep the same rows).
    *
    * Shape: one shuffle on the host key; `row_number` streams each
    * group, so a mega-domain costs its row count, never its square, and
    * nothing is materialized per group. For a domain so hot its rows
    * overwhelm one partition, thin it FIRST with a cheap map-side
    * hash-sample ([[Sampling.byHashPredicate]]) sized generously above
    * `cap`, then apply the exact cap — same result, bounded partition.
    */
  def perDomainCap(docs: DataFrame, hostCol: String, idCol: String, cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val w = Window.partitionBy(col(s"`$hostCol`")).orderBy(col(s"`$idCol`"))
    docs.withColumn("__dom_rn", row_number().over(w))
      .where(col("__dom_rn") <= cap)
      .drop("__dom_rn")
  }

  /** Domain-stratified MIXING: each domain keeps its own deterministic
    * hash fraction ("10% of blogspot, all of arxiv, 2% of everything
    * else") — [[Sampling.stratifiedByHash]] keyed on the host column.
    * One map-side CASE predicate: zero shuffle, reproducible across
    * runs and corpus growth.
    */
  def domainStratifiedSample(
      docs: DataFrame, hostCol: String, idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0): DataFrame =
    Sampling.stratifiedByHash(docs, hostCol, idCol, fractions, defaultFraction)

  /** URL-level dedup: keep ONE doc per canonical URL (lowest `idCol` —
    * the crawl's re-fetches, mirror schemes, tracking-param variants
    * and `www.` aliases collapse to a single row). This is the FIRST
    * dedup a web pipeline runs — it is free compared to content dedup
    * (one shuffle on the canonical key, no shingles, no pairs) and
    * removes the bulk of crawl redundancy before shingle/MinHash
    * machinery ever scans text. Canonicalization is
    * [[graft.functions.UrlFns.canonicalUrl]] (map-side, codegen'd);
    * docs whose URL fails to canonicalize (no `scheme://host` — the
    * extraction yields an empty host, so EVERY junk URL would collapse
    * into one "://" group) pass through untouched — an unparseable URL
    * is no evidence of duplication.
    */
  def dedupByCanonicalUrl(docs: DataFrame, urlCol: String, idCol: String): DataFrame = {
    val url = col(s"`$urlCol`")
    val parseable = coalesce(
      length(graft.functions.UrlFns.urlHost(url)) > 0, lit(false))
    val keyed = docs.withColumn("__curl",
      graft.functions.UrlFns.canonicalUrl(url))
    val w = Window.partitionBy(col("__curl")).orderBy(col(s"`$idCol`"))
    keyed.where(parseable)
      .withColumn("__url_rn", row_number().over(w))
      .where(col("__url_rn") <= 1)
      .drop("__url_rn")
      .unionByName(keyed.where(!parseable))
      .drop("__curl")
  }

  /** robots.txt compliance filter: keep only docs whose raw path the
    * host's robots.txt allows for the `*` agent
    * ([[graft.functions.RobotsExpr]] semantics: longest matching
    * pattern wins, ties → allow, `*`/`$` wildcards, no match → allowed).
    * Docs whose host has no robots row — and docs with a null host —
    * pass through: absence of a robots.txt means crawl-permitted.
    *
    * Shape: robots bodies parse ONCE on the domain-cardinality `robots`
    * frame (one `robots_rules` call per host, not per doc), which then
    * broadcasts for a map-side left join + codegen'd predicate — the
    * corpus never shuffles. For a robots frame beyond the broadcast
    * budget pass `broadcastRobots = false` (one shuffled join keyed on
    * host).
    *
    * The rules frame is deduplicated to ONE row per host before the
    * join (deterministically: lexicographically-least body wins, the
    * strictest stable choice for a re-fetched robots.txt) — a duplicate
    * host row would otherwise fan out every doc of that host into
    * duplicate corpus rows.
    */
  def applyRobots(
      docs: DataFrame, hostCol: String, pathCol: String,
      robots: DataFrame, robotsHostCol: String = "host",
      robotsTxtCol: String = "robots_txt",
      broadcastRobots: Boolean = true): DataFrame = {
    val rules = robots
      .groupBy(col(s"`$robotsHostCol`").as("__rb_host"))
      .agg(min(col(s"`$robotsTxtCol`")).as("__rb_txt"))
      .select(
        col("__rb_host"),
        graft.functions.RobotsExpr
          .robotsRules(col("__rb_txt")).as("__rb_rules"))
    val r = if (broadcastRobots) broadcast(rules) else rules
    docs.join(r, col(s"`$hostCol`") === col("__rb_host"), "left")
      .where(col("__rb_rules").isNull ||
        graft.functions.RobotsExpr
          .robotsAllowed(col("__rb_rules"), col(s"`$pathCol`")))
      .drop("__rb_host", "__rb_rules")
  }

  /** Domain-LEVEL quality gate (the RefinedWeb/CCNet curation order:
    * judge the domain, then keep or drop its documents wholesale): keep
    * every doc whose host has at least `minDocs` documents AND a mean
    * `scoreCol` of at least `minMeanScore`. Domain reputation is a
    * stronger prior than any single page's score — a spam farm's rare
    * clean page is still spam-farm data, and a reputable domain's one
    * awkward page is still worth keeping.
    *
    * Null-host docs pass through untouched: no host is no domain
    * evidence (the [[applyBlocklist]] convention).
    *
    * Shape: ONE host-keyed partial-agged aggregation builds the domain
    * stats frame — domain-cardinality, orders of magnitude below the
    * corpus — and the corpus semi-joins the qualifying hosts. With
    * `broadcastStats` (default) the semi-join is map-side and the
    * corpus never shuffles; a 100 TB crawl has ~10⁷–10⁸ domains, so if
    * the qualifying-host frame outgrows the broadcast budget, pass
    * `broadcastStats = false` and the probe degrades to one shuffled
    * semi-join keyed on the host.
    */
  def domainQualityFilter(
      docs: DataFrame, hostCol: String, scoreCol: String,
      minDocs: Long = 1L, minMeanScore: Double = 0.0,
      broadcastStats: Boolean = true): DataFrame = {
    require(minDocs >= 1, s"minDocs must be >= 1, got $minDocs")
    val host = col(s"`$hostCol`")
    val ok0 = docs.where(host.isNotNull)
      .groupBy(host.as("__dq_host"))
      .agg(count(lit(1)).as("__dq_n"), avg(col(s"`$scoreCol`")).as("__dq_mean"))
      .where(col("__dq_n") >= minDocs && col("__dq_mean") >= minMeanScore)
      .select("__dq_host")
    val ok = if (broadcastStats) broadcast(ok0) else ok0
    docs.where(host.isNotNull)
      .join(ok, host === col("__dq_host"), "left_semi")
      .unionByName(docs.where(host.isNull))
  }

  /** Domain blocklist: drop every doc whose host (or any parent domain
    * — `ads.tracker.example.com` matches a blocklisted `example.com`)
    * appears in `blockedHosts`. The blocklist is CONFIG, not data
    * (UT1/SafeSearch-style lists are 10⁵–10⁶ hosts — the `fractions`
    * map idiom at larger size): membership compiles to an `InSet` hash
    * probe over the host's dotted-suffix chain — one map-side
    * predicate, zero shuffle, zero join. A blocklist too large for the
    * closure should instead explode the suffix chain, broadcast-semi-
    * join the list, and anti-join ids back — the shuffle that buys.
    *
    * Suffix semantics: a host with k labels probes its k dotted
    * suffixes (`a.b.c` → a.b.c, b.c, c), so list entries match whole
    * registrable domains, never substrings (`notexample.com` does NOT
    * match a blocked `example.com`). Null hosts pass through — no host
    * is no evidence.
    *
    * Both sides normalize before matching: the host column is
    * lowercased and stripped of an optional `:port` suffix and trailing
    * dot ([[graft.functions.UrlFns.urlHost]] keeps a non-default port —
    * `example.com:8080` must still match a blocked `example.com`), and
    * list entries are lowercased and dot-stripped — so caller-side
    * pre-normalization is a convenience, not a correctness precondition.
    */
  def applyBlocklist(docs: DataFrame, hostCol: String,
                     blockedHosts: Seq[String]): DataFrame = {
    val blocked = blockedHosts.map(_.toLowerCase.stripSuffix("."))
      .filter(_.nonEmpty)
    if (blocked.isEmpty) return docs
    val host = regexp_replace(
      regexp_replace(lower(col(s"`$hostCol`")), ":[0-9]+$", ""), "\\.$", "")
    val labels = split(host, "\\.")
    val suffixes = transform(
      sequence(lit(1), size(labels)),
      i => array_join(slice(labels, i, size(labels) - i + 1), "."))
    docs.where(
      !coalesce(exists(suffixes, s => s.isInCollection(blocked)), lit(false)))
  }
}
