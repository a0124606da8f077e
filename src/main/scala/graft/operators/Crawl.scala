package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{crawl, web}
import graft.core.BlockScope.Boundary

/** Crawl-planning operators: sitemap ingestion and the politeness-
  * budgeted frontier — the loop-closing pieces over the URL, robots,
  * and sitemap kernels. A crawl at 100 TB scale is dominated by a few
  * giant hosts; the frontier's job is exactly to cap per-domain spend
  * while keeping the selection deterministic and auditable.
  */
object Crawl {

  /** Explode a column of sitemap XML documents (urlset or sitemapindex)
    * into entry rows: (idCol, kind, entry_idx, loc, lastmod,
    * changefreq, priority). One codegen'd parse + one generator, fused
    * into the scan stage — XML bytes never cross a shuffle. Documents
    * that are not sitemaps (null kind) produce no rows. */
  def sitemapUrls(df: DataFrame, idCol: String, xmlCol: String): DataFrame =
    df.select(col(idCol), crawl.sitemap_kind(col(xmlCol)).as("kind"),
        posexplode(crawl.sitemap_entries(col(xmlCol))))
      .where(col("kind").isNotNull)
      .select(col(idCol), col("kind"), col("pos").as("entry_idx"),
        col("col.loc").as("loc"), col("col.lastmod").as("lastmod"),
        col("col.changefreq").as("changefreq"),
        col("col.priority").as("priority"))

  /** Derive per-host fetch budgets from each host's own declared
    * Crawl-delay: budget = floor(windowSec / delay), at least 1 —
    * "how many fetches does this host permit `agent` in one politeness
    * window" — with `defaultBudget` for hosts declaring no delay (and
    * for a declared delay of 0, which means unthrottled). Feeds
    * [[frontierSample]]'s `budgets` side directly; row-local over the
    * host-cardinality robots table. */
  def budgetsFromRobots(
      robots: DataFrame, agent: String, windowSec: Double,
      defaultBudget: Long): DataFrame = {
    require(windowSec > 0, s"windowSec must be positive (got $windowSec)")
    val delay = crawl.crawl_delay(col("robots_txt"), lit(agent))
    robots.select(col("domain"),
      when(delay.isNull || delay <= 0d, lit(defaultBudget))
        .otherwise(greatest(floor(lit(windowSec) / delay), lit(1d)))
        .cast("long").as("budget"))
  }

  /** Recrawl selection: which known URLs need refetching, from sitemap
    * `lastmod` against the fetch log — the decision sitemaps exist to
    * enable. A URL is stale iff it was never fetched, or its declared
    * lastmod (parseable prefix of W3C datetime, date-only accepted) is
    * strictly after its last fetch. URLs with an unparseable/absent
    * lastmod fall back to age: refetch when now - last_fetch >=
    * `maxAgeDays` (the polite default for undeclared freshness).
    * Canonical-URL left join; row-local date arithmetic. Output:
    * (url, lastmod, last_fetched, stale, reason). */
  def recrawlSet(
      entries: DataFrame, fetchLog: DataFrame, nowDate: String,
      maxAgeDays: Int): DataFrame = {
    require(maxAgeDays >= 0, s"maxAgeDays must be >= 0 (got $maxAgeDays)")
    // Representative lastmod per canonical URL: latest by NORMALIZED
    // instant, not lexicographic string — mixed W3C forms on one host
    // (…T23:00:00-05:00 vs …T10:00:00Z) compare as instants, and a junk
    // string (which sorts above every ISO date lexicographically) can
    // never shadow a parseable declaration: junk keys to the epoch-floor
    // sentinel, so any parseable date beats it; all-junk URLs tie on the
    // sentinel and keep the raw-string max as the representative.
    val modKey = struct(
      coalesce(try_to_timestamp(col("lastmod")),
        lit("1900-01-01").cast("timestamp")).as("ts"),
      coalesce(col("lastmod"), lit("")).as("raw"))
    val ents = entries.select(
      web.url_canonical(col("loc")).as("url"), col("lastmod"))
      .where(col("url").isNotNull)
      .groupBy("url").agg(max_by(col("lastmod"), modKey).as("lastmod"))
    val log = fetchLog.select(
      web.url_canonical(col("url")).as("url"),
      col("last_fetched").cast("date").as("last_fetched"))
      .groupBy("url").agg(max(col("last_fetched")).as("last_fetched"))
    // try_to_date: a hostile lastmod must degrade to the age rule, not
    // throw under ANSI
    val modDate = try_to_date(substring(col("lastmod"), 1, 10))
    ents.join(log, Seq("url"), "left")
      .withColumn("reason",
        when(col("last_fetched").isNull, lit("never_fetched"))
          .when(modDate.isNotNull && modDate > col("last_fetched"),
            lit("modified"))
          .when(modDate.isNull &&
            datediff(lit(nowDate).cast("date"), col("last_fetched")) >=
              maxAgeDays, lit("aged_out"))
          .otherwise(lit("fresh")))
      .withColumn("stale", col("reason") =!= "fresh")
      .select("url", "lastmod", "last_fetched", "stale", "reason")
  }

  /** Fetch schedule for a frontier selection: politeness says not just
    * how many URLs a host permits per window but WHEN — one fetch per
    * `Crawl-delay`, spaced. Each selected row gets
    * `fetch_at_ms = (rnk - 1) * delay_ms` within its host's window
    * (hosts without a declared delay use `defaultDelaySec`), so a
    * fetcher fleet can partition by (domain, fetch_at_ms) and stay
    * compliant with zero coordination — the schedule is a pure function
    * of the selection. Row-local arithmetic over the selection joined
    * with the host-cardinality delays side. */
  def fetchSchedule(
      selection: DataFrame, robots: DataFrame, agent: String,
      defaultDelaySec: Double): DataFrame = {
    require(defaultDelaySec > 0,
      s"defaultDelaySec must be positive (got $defaultDelaySec)")
    val delay = crawl.crawl_delay(col("robots_txt"), lit(agent))
    val delays = robots.select(col("domain"),
      when(delay.isNull || delay <= 0d, lit(defaultDelaySec))
        .otherwise(delay).as("delay_sec"))
    selection.where(col("selected"))
      .join(delays, Seq("domain"), "left")
      .withColumn("delay_sec",
        coalesce(col("delay_sec"), lit(defaultDelaySec)))
      .withColumn("fetch_at_ms",
        ((col("rnk") - 1) * col("delay_sec") * 1000d).cast("long"))
      .select("url", "domain", "rnk", "delay_sec", "fetch_at_ms")
  }

  /** Incremental [[frontierSample]]: select from a NEW candidate batch
    * under budgets already partly spent by prior rounds — the
    * continuous-discovery loop of a real crawler. `spent` is
    * (domain, n_selected) aggregated from earlier selections; `done`
    * is previously selected/fetched URLs (canonical), excluded by
    * anti-join so a re-discovered page never re-spends budget. Each
    * host's remaining budget is max(budget - spent, 0); ordering and
    * robots semantics are identical to the batch operator, and with no
    * spend and no history the output IS the batch operator's selected
    * set (spec-pinned). Stream semantics match the other delta
    * operators: earlier rounds' picks are never revisited, so a
    * later-arriving higher-score URL wins only FUTURE budget.
    * `auditAll = false` is the giant-domain scale mode (salted
    * two-phase top-k on the REMAINING budget, selected rows only) —
    * see [[frontierSample]]. */
  def frontierDelta(
      batch: DataFrame, urlCol: String, agent: String,
      robots: DataFrame, budgets: DataFrame, defaultBudget: Long,
      spent: DataFrame, done: DataFrame,
      scoreCol: Option[String] = None, auditAll: Boolean = true): DataFrame = {
    val score = scoreCol.map(col).getOrElse(
      pmod(xxhash64(col("url")), lit(1000000007L)))
    val canon = batch
      .withColumn("url", web.url_canonical(col(urlCol)))
      .where(col("url").isNotNull)
      .groupBy("url").agg(max(score).as("score"))
      .join(done.select(web.url_canonical(col("url")).as("url")),
        Seq("url"), "left_anti")
      .withColumn("u", web.url_parse(col("url")))
      .where(col("u").isNotNull)
      .select(col("url"), col("score"),
        col("u.host").as("domain"), col("u.path").as("path"))
    val allowed = canon
      .join(robots.select(col("domain"), col("robots_txt")), Seq("domain"),
        "left")
      .where(col("robots_txt").isNull ||
        crawl.robots_allowed(col("robots_txt"), lit(agent), col("path")))
    val budgeted = allowed
      .join(budgets.select(col("domain"), col("budget")), Seq("domain"),
        "left")
      .join(spent.select(col("domain"), col("n_selected")), Seq("domain"),
        "left")
      .withColumn("budget", greatest(
        coalesce(col("budget").cast("long"), lit(defaultBudget)) -
          coalesce(col("n_selected").cast("long"), lit(0L)), lit(0L)))
    // auditAll = false is the giant-domain scale mode, identical in
    // spirit to [[frontierSample]]'s: a delta batch dominated by one
    // huge host (a giant sitemap index landing in one discovery round)
    // must not sort all its candidates in a single window partition.
    // The salted per-(domain, salt) top-REMAINING-budget prune keeps a
    // superset of the global top-budget (same subset argument as the
    // batch mode — here budget is the REMAINING budget after spend),
    // then the exact rank runs on at most FrontierSaltBuckets×budget
    // rows per domain; only selected rows return (the audit trail is
    // what gets pruned — spec pins selected-set equality).
    val pruned =
      if (auditAll) budgeted
      else budgeted
        .withColumn("_srnk", row_number().over(
          Window.partitionBy(col("domain"),
            pmod(xxhash64(col("url")), lit(FrontierSaltBuckets)))
            .orderBy(col("score").desc, col("url").asc)))
        .where(col("_srnk") <= col("budget"))
        .drop("_srnk")
    val ranked = pruned
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("score").desc, col("url").asc)).cast("long"))
      .withColumn("selected", col("rnk") <= col("budget"))
      .select("url", "domain", "score", "rnk", "budget", "selected")
    if (auditAll) ranked else ranked.where(col("selected"))
  }

  /** Sitemap-driven discovery — the acquisition loop sitemaps exist
    * for, composed from the audited kernels: each host's robots.txt
    * declares its sitemaps (RFC 9309 `Sitemap:` lines,
    * group-independent), the declared-and-fetched documents enumerate
    * URLs, and the result feeds the politeness frontier as candidates
    * scored by the publisher's own declared `<priority>` (absent
    * priorities take the sitemaps.org default 0.5). A URL listed by
    * several sitemaps keeps its highest declared priority
    * ([[frontierSample]]'s canonical-dedup max); robots Disallow rules
    * still gate every candidate — a sitemap cannot smuggle a
    * disallowed path past the politeness contract.
    *
    * `robots`: (domain, robots_txt). `sitemaps`: (sitemap_url, xml) —
    * the fetched sitemap documents, joined on the EXACT declared URL.
    * Scale shape: robots/sitemap parsing is scan-stage row-local, the
    * declared->fetched join is sitemap-cardinality (tiny next to the
    * URL universe), and selection inherits [[frontierSample]]'s shape
    * including the salted giant-domain mode. */
  def sitemapDiscovery(
      robots: DataFrame, sitemaps: DataFrame, agent: String,
      budgets: DataFrame, defaultBudget: Long,
      auditAll: Boolean = true): DataFrame = {
    val declared = robots.select(
      explode(crawl.robots_sitemaps(col("robots_txt"))).as("sitemap_url"))
      .distinct()
    val cands = declared
      .join(sitemaps.select(col("sitemap_url"), col("xml")),
        Seq("sitemap_url"))
      .select(explode(crawl.sitemap_entries(col("xml"))).as("e"))
      .select(col("e.loc").as("url"),
        coalesce(col("e.priority"), lit(0.5)).as("score"))
    frontierSample(cands, "url", agent, robots, budgets, defaultBudget,
      scoreCol = Some("score"), auditAll = auditAll)
  }

  /** Link-mass-prioritized frontier: the discovery loop closed with a
    * PRIORITY. Crawled pages' anchors form the link graph, PageRank
    * assigns every discovered URL its link mass, and the politeness
    * frontier spends each host's budget on the highest-mass URLs first —
    * the classic crawl-ordering result (Cho/Garcia-Molina/Page 1998:
    * importance-ordered crawling finds high-quality pages far earlier
    * than breadth-first or random order).
    *
    * `pages`: one row per crawled page (urlCol = the page's own URL,
    * htmlCol = its HTML). Edges are canonical page URL -> canonical
    * anchor target (unparseable ends and self-loops drop, duplicates
    * collapse); ranks come from [[graft.assembly.Refinement.pageRank]]
    * (micro-quantized — engine-exact, so the oracle replays every
    * iteration); candidates are the distinct link targets.
    *
    * Scale shape: edge extraction is scan-stage row-local (html_links +
    * url_canonical fused into the scan), the rank is `iters` key joins
    * over the edge list with truncated lineage, and the selection
    * inherits [[frontierSample]]'s shape — including the salted
    * giant-domain mode via `auditAll = false`. */
  def rankedFrontier(
      pages: DataFrame, urlCol: String, htmlCol: String, agent: String,
      robots: DataFrame, budgets: DataFrame, defaultBudget: Long,
      iters: Int = 2, auditAll: Boolean = true): DataFrame = {
    val edges = pages
      .select(web.url_canonical(col(urlCol)).as("src"),
        explode(web.html_links(col(htmlCol))).as("raw"))
      .select(col("src"), web.url_canonical(col("raw")).as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    val pr = graft.assembly.Refinement.pageRank(edges, iters)
    val cands = edges.select(col("dst").as("url")).distinct()
      .join(pr.withColumnRenamed("node", "url"), Seq("url"), "left")
      .select(col("url"), coalesce(col("pr"), lit(0d)).as("score"))
    frontierSample(cands, "url", agent, robots, budgets, defaultBudget,
      scoreCol = Some("score"), auditAll = auditAll)
  }

  /** The flagship end-to-end crawl→training-data pipeline — the crawl
    * twin of [[Curate.curationPipeline]] — composing the audited stages
    * in the order a production run executes them:
    *
    *   1. ingest: [[graft.sources.Content.httpPages]] — gzip WARC
    *      members -> HTTP envelope -> dechunk -> Content-Encoding ->
    *      charset decode, all fused into one codegen'd scan stage;
    *   2. response filter: status 200, a decoded body, and a
    *      WARC-Target-URI (read case-insensitively — WARC field names
    *      are not case sensitive);
    *   3. canonical-URL dedup: `url_canonical` collapses scheme/host
    *      case, default ports, fragments, and tracking params; the
    *      lowest (idCol, member_idx) row represents each page;
    *   4. meta-robots compliance: pages declaring `noindex` drop (a
    *      compliant training pipeline honors the publisher's opt-out);
    *   5. main-content extraction: `html_main_text` (jusText-style
    *      block classification) plus `html_title`;
    *   6. soft-404 removal: declared error phrases + per-domain
    *      template clusters ([[Curate.soft404Flags]]);
    *   7. quality funnel: token floor, language id, type-token ratio
    *      ([[TextAnalysis.qualityStats]] + langId) over the MAIN text;
    *   8. near-dup removal: MinHash-LSH pairs -> connected components
    *      -> min-id survivor ([[Dedup.minhashNearDups]] +
    *      [[Dedup.dedupCorpus]]);
    *   9. decontamination: benchmark shingle-overlap anti-join
    *      ([[Curate.contaminated]]);
    *  10. leakage-safe split: split hash over each doc's duplicate-
    *      cluster root. Every survivor of step 8 is the min id of its
    *      cluster or in no pair, so its root is its own id and the split
    *      is [[Curate.hashSplit]] — the same column
    *      [[Curate.leakageSafeSplit]] gives, without a second
    *      connected-components run;
    *  11. packing: shard-parallel contiguous-fill sequence assignment
    *      ([[Curate.packSequences]]).
    *
    * Composition is the point: every stage is individually oracle-gated,
    * and this operator's gate proves they compose without boundary bugs
    * over real WARC bytes. Scale shape inherits from the parts — the
    * ingest chain is row-local in the scan stage (bytes never shuffle),
    * the URL dedup is one hash aggregation on the canonical key, the
    * extraction/funnel work is map-side, dedup runs on the banded pair
    * graph, decontamination probes broadcast benchmark shingles, and
    * packing windows per shard.
    *
    * Returns one row per packed surviving page:
    * (idCol, url, split, n_tokens, shard, seq_id). */
  def crawlPipeline(
      chunks: DataFrame, idCol: String, chunkCol: String,
      bench: DataFrame, // benchmark docs to decontaminate against: (idCol, text)
      stopwords: Seq[String] = Nil,
      minTokens: Long = 30, lang: String = "en", minTtr: Double = 0.2,
      minMainLen: Int = 200, minCluster: Long = 3,
      n: Int = 5, k: Int = 12, r: Int = 3,
      dedupThreshold: Double = 0.6, contamFrac: Double = 0.5,
      packBudget: Long = 512L, packShards: Int = 8): DataFrame = {
    val pages = graft.sources.Content.httpPages(chunks, idCol, chunkCol)
      .withColumn("url", web.url_canonical(
        graft.functions.codecs.header_get(col("warc_headers"),
          lit("WARC-Target-URI"))))
      .where(col("status") === 200 && col("text").isNotNull &&
        col("url").isNotNull)
    // one row per canonical URL: lowest (id, member) wins — recrawls and
    // tracking-param variants of one page collapse deterministically
    val uniq = pages
      .withColumn("_urn", row_number().over(
        Window.partitionBy(col("url"))
          .orderBy(col(idCol).asc, col("member_idx").asc)))
      .where(col("_urn") === 1)
    val indexable = uniq.where(!coalesce(
      lower(element_at(web.html_meta(col("text")), "robots"))
        .contains("noindex"), lit(false)))
    val main = indexable.select(col(idCol), col("url"),
      web.url_parse(col("url")).getField("host").as("domain"),
      web.html_title(col("text")).as("title"),
      web.html_main_text(col("text")).as("main"))
    val s404 = Curate.soft404Flags(main, idCol, "domain", "title", "main",
        minMainLen, minCluster)
      .where(!col("soft404"))
    // `kept` fans out to the minhash pairs and to dedupCorpus (whose
    // survivors feed the contamination check and the pack), and every
    // consumer would otherwise re-execute the ENTIRE upstream chain
    // — WARC/HTTP ingest, main-content extraction, soft-404, quality —
    // because nothing before this point is a materialization boundary.
    // One lazy local checkpoint of the four narrow survivor columns
    // truncates the plan (guide §3.3); ingest runs once.
    val kept = TextAnalysis.qualityStats(s404, "main", stopwords)
      .withColumn("lang_pred", TextAnalysis.langId(col("main"), stopwords))
      .where(col("n_tokens") >= minTokens &&
        col("lang_pred") === lang && col("ttr") >= minTtr)
      .select(col(idCol), col("url"), col("main"),
        col("n_tokens").cast("long").as("n_tokens"))
      .boundary()
    val pairs = Dedup.minhashNearDups(kept.select(idCol, "main"), idCol,
      "main", n = n, k = k, r = r, threshold = dedupThreshold)
    val deduped = Dedup.dedupCorpus(kept, idCol, pairs)
    // survivors minus benchmark-contaminated, narrowed to the pack
    // columns; each survivor is its own cluster root (step 10)
    val clean = deduped.join(
      Curate.contaminated(deduped.select(idCol, "main"),
        bench.select(col(idCol), col("text").as("main")), idCol,
        "main", n = n, minFrac = contamFrac).select(col("doc_id").as(idCol)),
      Seq(idCol), "left_anti")
      .select(col(idCol), col("url"), col("n_tokens"))
    Curate.packSequences(
        Curate.hashSplit(clean, idCol)
          .select(col(idCol), col("url"), col("split"), col("n_tokens")),
        idCol, "n_tokens", packBudget, packShards)
      .select(col(idCol), col("url"), col("split"), col("n_tokens"),
        col("shard"), col("seq_id"))
  }

  /** Politeness-budgeted frontier selection: candidate URLs ->
    * per-domain top-`budget` picks, robots-compliant and deduplicated.
    *
    *   1. canonicalize (dedup key) and parse each URL; unparseable rows
    *      drop, canonical duplicates collapse to one row (highest
    *      score wins the representative's priority);
    *   2. robots filter: left-join `robots` (domain, robots_txt) on the
    *      HOST (where robots.txt actually lives — politeness is a
    *      per-host contract, so two subdomains of one site budget
    *      independently; regroup on registered_domain upstream for
    *      eTLD+1 caps) and evaluate RFC 9309 for `agent` against the
    *      URL path — no robots row means allowed;
    *   3. budget: left-join `budgets` (domain, budget), missing domains
    *      get `defaultBudget`;
    *   4. rank allowed URLs per domain by (score desc, url asc) —
    *      `scoreCol` if given, else a deterministic content hash (a
    *      seedless shuffle, so the un-scored frontier is an unbiased
    *      per-domain sample) — and mark `selected` = rank <= budget.
    *
    * With `auditAll` (the default) returns the full allowed audit
    * trail: (url, domain, score, rnk, budget, selected); callers fetch
    * `selected`. Scale shape: one dedup aggregation on the canonical
    * key, two left joins on domain (robots/budget sides are
    * domain-cardinality — broadcastable), one per-domain window.
    *
    * `auditAll = false` is the giant-domain scale mode: a host with a
    * billion candidate URLs would otherwise sort them all in one
    * window partition just to keep `budget`. The two-phase top-k first
    * takes the per-(domain, salt) local top-`budget` — the global
    * top-`budget` is always a subset of the union of salted
    * top-`budget`s, so this prunes each domain to at most
    * [[FrontierSaltBuckets]]×budget rows without changing the
    * selection — then ranks exactly and returns ONLY the selected rows
    * (the audit trail is what gets pruned; spec pins selected-set
    * equality with the audit mode). */
  val FrontierSaltBuckets = 32

  def frontierSample(
      candidates: DataFrame, urlCol: String, agent: String,
      robots: DataFrame, budgets: DataFrame, defaultBudget: Long,
      scoreCol: Option[String] = None, auditAll: Boolean = true): DataFrame = {
    val score = scoreCol.map(col).getOrElse(
      pmod(xxhash64(col("url")), lit(1000000007L)))
    val canon = candidates
      .withColumn("url", web.url_canonical(col(urlCol)))
      .where(col("url").isNotNull)
      .groupBy("url").agg(max(score).as("score"))
      .withColumn("u", web.url_parse(col("url")))
      .where(col("u").isNotNull)
      .select(col("url"), col("score"),
        col("u.host").as("domain"), col("u.path").as("path"))
    val allowed = canon
      .join(robots.select(col("domain"), col("robots_txt")), Seq("domain"),
        "left")
      .where(col("robots_txt").isNull ||
        crawl.robots_allowed(col("robots_txt"), lit(agent), col("path")))
    val budgeted = allowed
      .join(budgets.select(col("domain"), col("budget")), Seq("domain"),
        "left")
      .withColumn("budget",
        coalesce(col("budget").cast("long"), lit(defaultBudget)))
    val pruned =
      if (auditAll) budgeted
      else budgeted
        .withColumn("_srnk", row_number().over(
          Window.partitionBy(col("domain"),
            pmod(xxhash64(col("url")), lit(FrontierSaltBuckets)))
            .orderBy(col("score").desc, col("url").asc)))
        .where(col("_srnk") <= col("budget"))
        .drop("_srnk")
    val ranked = pruned
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("score").desc, col("url").asc)).cast("long"))
      .withColumn("selected", col("rnk") <= col("budget"))
      .select("url", "domain", "score", "rnk", "budget", "selected")
    if (auditAll) ranked else ranked.where(col("selected"))
  }
}
