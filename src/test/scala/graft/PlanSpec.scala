package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.BlockScope
import graft.querydsl._
import graft.queries.TpchWorld
import graft.sources.Tables

/** Physical-plan quality gates: these assertions pin the optimizations the
  * engine's scale story depends on — filter/projection pushdown into the
  * parquet scan, broadcast joins for dimensions, semi/anti joins for the
  * DSL compiler, and whole-stage codegen on hot paths. A regression here is
  * a performance bug even when results stay correct.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local("plan-test")
  val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("driver entry smoke: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("filters and projections push into the parquet scan") {
    val df = Tables.table(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-02") && col("l_quantity") > 10)
      .select("l_orderkey", "l_quantity")
    val p = plan(df)
    assert(p.contains("PushedFilters:") && p.contains("IsNotNull(l_quantity)"),
      s"no pushdown in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double"),
      s"projection not pruned in:\n$p")
  }

  test("dimension joins broadcast; no shuffle of the fact side for dims") {
    val li = Tables.table(spark, dir, "lineitem")
    val part = Tables.table(spark, dir, "part").filter(col("p_type") === "PROMO")
    val p = plan(li.join(broadcast(part), col("l_partkey") === col("p_partkey")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
  }

  test("DSL intersection compiles to semi joins, inversion to anti join") {
    val ro = TpchWorld.readonly(spark, dir)
    val q = HasAgent("P2") & HasAgent("P3") & ~HasAgent("P4")
    val p = plan(QueryCompiler.compile(q, ro, TpchWorld.types))
    assert(p.contains("LeftSemi"), s"expected semi join:\n$p")
    assert(p.contains("LeftAnti"), s"expected anti join:\n$p")
  }

  test("source-meta leaves fuse into one scan (no joins at all)") {
    val ro = TpchWorld.readonly(spark, dir)
    val q = HasSources(Seq("reach")) & HasReadings() &
      HasEvidenceBound(Seq(EvBound.parse(">= 2")))
    val optimized = QueryCompiler.compile(q, ro, TpchWorld.types)
      .queryExecution.optimizedPlan.toString
    // the readonly-build plan inside the cached relation may contain joins;
    // the QUERY itself (above the InMemoryRelation boundary) must not
    val queryPart = optimized.split("InMemoryRelation").head
    assert(!queryPart.contains("Join"),
      s"SourceIntersection fusion regressed — query adds a join:\n$queryPart")
  }

  test("agentsWithComplexes has no global (un-partitioned) window") {
    // the complexes-covered dedup must not rank groups with a single-
    // partition Window — at 100 TB that moves the whole agents view to one
    // reducer. The keep-group assignment is a min_by aggregation instead.
    val ro = TpchWorld.readonly(spark, dir)
    val optimized = Results.agentsWithComplexes(
      HasReadings(), ro, TpchWorld.types, complexTypeNum = 3)
      .queryExecution.optimizedPlan.toString
    // the readonly build below the cache boundary may window; the query must not
    val queryPart = optimized.split("InMemoryRelation").head
    assert(!queryPart.contains("Window"), s"global window regressed:\n$queryPart")
  }

  test("global-order paths: top-k or ranged cumsum; every data-sized window partitioned") {
    // The test log's "WindowExec: No Partition Defined" warnings come from
    // test-side reference computations; this pin documents the production
    // global-order paths so the warning can never hide a data-sized
    // regression.
    val ro = TpchWorld.readonly(spark, dir)
    // 1. the hash-list envelope (ORDER BY + LIMIT) is a distributed
    //    top-k, not a global sort or a window
    val p1 = plan(Results.hashes(HasReadings(), ro, TpchWorld.types,
      limit = 10))
    assert(p1.contains("TakeOrderedAndProject"),
      s"envelope should plan as top-k:\n$p1")
    assert(!p1.split("InMemoryRelation").head.contains("Window"),
      s"envelope must not window:\n$p1")
    // 2. token-budget cumsum: the DATA-sized window is partitioned by the
    //    range bucket; the only unpartitioned window rangedCumsum owns
    //    runs over the <= 64 bucket-total rows (model-sized by contract)
    val docsT = Tables.table(spark, dir, "documents").select(col("doc_id"),
      (length(col("text")) / 4).cast("long").as("toks"),
      length(col("text")).cast("double").as("score"))
    val p2 = plan(graft.operators.Curate.tokenBudgetSelect(
      docsT, "doc_id", "toks", "score", 1000L))
    assert(p2.contains("windowspecdefinition(_bucket"),
      s"cumsum's data leg must window per range bucket:\n$p2")
    // 3. frontier ranking windows are partitioned by domain
    import spark.implicits._
    val cands = Seq(("http://a.com/x", 1L)).toDF("url", "score")
    val robots = Seq(("a.com", "User-agent: *")).toDF("domain", "robots_txt")
    val budgets = Seq(("a.com", 5L)).toDF("domain", "budget")
    val p3 = plan(graft.operators.Crawl.frontierSample(cands, "url", "bot",
      robots, budgets, 10L, Some("score")))
    assert(p3.contains("windowspecdefinition(domain"),
      s"frontier rank must partition by domain:\n$p3")
  }

  test("round-12 plans: delta scale mode windows per (domain, salt); " +
    "crawl pipeline broadcasts bench, windows per key, no cartesian") {
    import spark.implicits._
    val cands = Seq(("http://a.com/x", 1L)).toDF("url", "score")
    val robots = Seq(("a.com", "User-agent: *")).toDF("domain", "robots_txt")
    val budgets = Seq(("a.com", 5L)).toDF("domain", "budget")
    val spent = Seq(("a.com", 1L)).toDF("domain", "n_selected")
    val done = Seq("http://a.com/y").toDF("url")
    // the scaled delta ranks in TWO windows — the salted prune
    // (domain, salt) and the exact per-domain rank — and neither is
    // global
    val p1 = plan(graft.operators.Crawl.frontierDelta(cands, "url", "bot",
      robots, budgets, 10L, spent, done, Some("score"), auditAll = false))
    val domainWindows =
      "windowspecdefinition\\(domain".r.findAllIn(p1).size
    assert(domainWindows >= 2,
      s"expected salted + exact domain-partitioned windows:\n$p1")
    assert(!p1.contains("windowspecdefinition()"),
      s"unpartitioned window crept into the delta rank:\n$p1")
    // the composed crawl pipeline: benchmark probe broadcasts, the URL
    // dedup and packing windows are key-partitioned, and nothing plans
    // as a cartesian product
    val chunk = graft.functions.codecs.compress_bytes(concat(
      lit("WARC/1.0\r\nWARC-Target-URI: http://a.com/p\r\n\r\n" +
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n").cast("binary"),
      encode(concat(lit("<p>body "), col("doc_id").cast("string"),
        lit("</p>")), "UTF-8")), lit("gzip"))
    val chunks = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), chunk.as("chunk"))
    val bench = Tables.table(spark, dir, "documents")
      .filter(col("doc_id") % 7 === 0).select("doc_id", "text")
    // inlined: the production path truncates lineage at its fan-out
    // boundaries (so ingest runs once, not once per consumer); the audit
    // wants the one composed plan those segments add up to
    val p2 = BlockScope.inlined(plan(graft.operators.Crawl.crawlPipeline(
      chunks, "doc_id", "chunk", bench)))
    assert(p2.contains("BroadcastHashJoin"),
      s"bench/model sides should broadcast:\n$p2")
    assert(!p2.contains("CartesianProduct"),
      s"cartesian product crept into the pipeline:\n$p2")
    assert(p2.contains("windowspecdefinition(url"),
      s"URL dedup window must partition by canonical url:\n$p2")
    assert(p2.contains("windowspecdefinition(shard"),
      s"packing window must partition by shard:\n$p2")
  }

  test("decontamination probes a BROADCAST bench side — never a shuffle join") {
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val p = plan(graft.operators.Curate.ngramOverlap(docs, bench,
      "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"),
      s"bench side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept in:\n$p")
  }

  test("bloom + line-dedup probes broadcast their small sets; SQ stats ride broadcast") {
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 7 === 0)
    val pBloom = plan(graft.operators.Curate.bloomContaminated(
      docs, bench, "doc_id", "text"))
    assert(pBloom.contains("BroadcastHashJoin"),
      s"bloom position set not broadcast:\n$pBloom")
    assert(!pBloom.contains("SortMergeJoin"),
      s"corpus-side shuffle join crept into the bloom probe:\n$pBloom")
    val pLines = plan(graft.operators.Dedup.lineDedup(
      docs, "doc_id", "text", minDf = 30))
    assert(pLines.contains("BroadcastHashJoin"),
      s"hot-line set not broadcast:\n$pLines")
    // the SQ8 stats row joins encode + search as a broadcast nest — a
    // shuffle there would move the whole corpus for a 1-row dimension
    import graft.operators.Similarity
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val stats = Similarity.sqStats(emb, 64)
    val codes = Similarity.sqEncode(emb, stats, 64)
    val pSq = plan(Similarity.sqTopK(emb.filter(col("id") < 5), codes, stats,
      64, k = 3))
    assert(pSq.contains("BroadcastNestedLoopJoin") ||
      pSq.contains("BroadcastHashJoin"), s"stats row not broadcast:\n$pSq")
    assert(!pSq.contains("CartesianProduct"),
      s"non-broadcast cartesian crept into SQ search:\n$pSq")
  }

  test("BM25 broadcasts the query vocabulary; NB broadcasts class stats; " +
      "rerank never cartesians the corpus") {
    import graft.operators.{Similarity, TextAnalysis}
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val qs = Seq((1L, "spark join merge")).toDF("query_id", "qtext")
    val pBm = plan(TextAnalysis.bm25TopK(docs, "doc_id", "text",
      qs, "query_id", "qtext", k = 10))
    // the postings side must meet the query-vocabulary sliver and the
    // 1-row corpus stats as broadcasts — a shuffle join there moves the
    // corpus-wide df/postings tables for a bounded query set
    assert(pBm.contains("BroadcastHashJoin"),
      s"query vocabulary not broadcast into postings:\n$pBm")
    assert(pBm.contains("BroadcastNestedLoopJoin"),
      s"corpus-stats row not a broadcast nest:\n$pBm")
    assert(!pBm.contains("CartesianProduct"),
      s"non-broadcast cartesian in BM25:\n$pBm")
    val (tc, cs) = TextAnalysis.nbTrain(
      Tables.table(spark, dir, "documents").select("text", "lang"),
      "text", "lang")
    val pNb = plan(TextAnalysis.nbPredict(docs, "doc_id", "text",
      tc, cs, vocab = 65536L))
    assert(pNb.contains("BroadcastNestedLoopJoin"),
      s"label table not a broadcast nest in NB scoring:\n$pNb")
    assert(!pNb.contains("CartesianProduct"),
      s"non-broadcast cartesian in NB scoring:\n$pNb")
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
    val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
    val pRr = plan(Similarity.pqRerankTopK(emb.filter(col("id") < 5),
      codes, cb, emb, m = 8, dim = 64, ksub = 16, shortlist = 10, k = 3))
    assert(!pRr.contains("CartesianProduct"),
      s"exact rerank degenerated into a corpus cartesian:\n$pRr")
  }

  test("weighted sampling plans as TakeOrdered; name matching never " +
      "cartesians") {
    import spark.implicits._
    val docs = Tables.table(spark, dir, "documents")
      .select("doc_id", "n_chars")
    val pWs = plan(graft.operators.Curate.weightedSample(
      docs, "doc_id", "n_chars", k = 50, seed = "ps"))
    assert(pWs.contains("TakeOrderedAndProject"),
      s"weighted sample planned as a global sort:\n$pWs")
    val p = Tables.table(spark, dir, "part").select("p_partkey", "p_name")
    val variants = p.select((col("p_partkey") + 1000000L).as("v_key"),
      concat(col("p_name"), lit("s")).as("v_name"))
    val pNm = plan(graft.operators.Dedup.nameMatch(
      variants, "v_key", "v_name", p, "p_partkey", "p_name"))
    assert(!pNm.contains("CartesianProduct"),
      s"name matching degenerated into a cartesian:\n$pNm")
  }

  test("DSIR weight table broadcasts; selection is TakeOrdered, not a sort") {
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val target = docs.filter(col("doc_id") % 7 === 0)
    val p = plan(graft.operators.Curate.dsirSelect(docs, target,
      "doc_id", "text"))
    assert(p.contains("BroadcastHashJoin"),
      s"weight table not broadcast into the per-doc probe:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k selection planned as something other than TakeOrdered:\n$p")
  }

  test("PQ search broadcasts distance tables; code scan never shuffle-joins") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
    val codes = Similarity.pqEncode(emb, cb, m = 8, dim = 64)
    val p = plan(Similarity.pqTopK(emb.filter(col("id") < 10), codes, cb,
      m = 8, dim = 64, ksub = 16, k = 5))
    // the (query-subvector x centroid) table joins the code rows as a
    // broadcast — a sort-merge there would shuffle the whole code scan
    assert(p.contains("BroadcastHashJoin"), s"ADC table not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"code scan shuffle join crept in:\n$p")
  }

  test("composed IVF-PQ search never joins codes back to the index") {
    import graft.operators.Similarity
    val emb = Tables.table(spark, dir, "embeddings")
      .select(col("vec_id").as("id"), col("embedding"))
    val index = Similarity.ivfIndex(emb, nCells = 16)
    val cents = emb.filter(col("id") < 16)
      .select(col("id").as("cent_id"), col("embedding").as("cent_emb"),
        Similarity.norm(col("embedding")).as("cent_nrm"))
    val cb = Similarity.pqCodebooks(emb, m = 8, dim = 64, ksub = 16)
    val codes = Similarity.pqEncode(
      index.select("id", "cell", "embedding"), cb, m = 8, dim = 64)
    // cell-carrying codes must make the index argument DEAD in the search:
    // passing null proves no codes<->index join path is ever constructed
    // (the fallback join would NPE while building the plan)
    val res = Similarity.ivfPqTopK(emb.filter(col("id") < 10), null, codes,
      cents, cb, m = 8, dim = 64, ksub = 16, nProbe = 2, k = 3)
    assert(res.count() > 0)
  }

  test("packSequences windows are partitioned by shard, never global") {
    val docs = Tables.table(spark, dir, "documents")
      .select(col("doc_id"), lit(10L).as("n_tokens"))
    val optimized = graft.operators.Curate.packSequences(
        docs, "doc_id", "n_tokens", budget = 512L, shards = 8)
      .queryExecution.optimizedPlan
    val windows = optimized.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    assert(windows.forall(_.partitionSpec.nonEmpty),
      "un-partitioned (single-reducer) window in packSequences")
  }

  test("MinHash near-dup plans shuffle no per-shingle rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    // the child columns of every exchange of the composed (inlined) plan
    def exchanged(p: SparkPlan): Seq[Seq[String]] = p.flatMap {
      case a: AdaptiveSparkPlanExec => exchanged(a.executedPlan)
      case e: Exchange => Seq(e.child.output.map(_.name))
      case _ => Nil
    }
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    for ((name, near) <- Seq(
        "minhashNearDups" -> (() => graft.operators.Dedup.minhashNearDups(
          docs, "doc_id", "text")),
        "containmentNearDups" -> (() => graft.operators.Dedup
          .containmentNearDups(docs, "doc_id", "text")))) {
      val cols = BlockScope.inlined(exchanged(near().queryExecution.executedPlan))
      assert(cols.nonEmpty, s"$name: no exchange found")
      assert(!cols.exists(_.contains("sh_hash")),
        s"$name shuffles per-shingle rows: ${cols.mkString("; ")}")
    }
  }

  test("incremental near-dup prunes untouched buckets with a semi join") {
    val docs = Tables.table(spark, dir, "documents").select("doc_id", "text")
    val newBatch = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("doc_id", col("doc_id") + 100000)
    val oldSh = graft.operators.Dedup.shingleSet(docs, "doc_id", "text", 3)
    val oldSigs = graft.operators.Dedup.bandSignatures(
      graft.operators.Dedup.minhash(oldSh, 12), 3)
    val p = plan(graft.operators.Dedup.deltaNearDups(
      newBatch, "doc_id", "text", oldSigs, oldSh))
    assert(p.contains("LeftSemi"), s"bucket pruning semi join missing:\n$p")
  }

  test("global running sums range-partition; only bucket totals ever " +
      "hit one reducer") {
    // seededShuffle / tokenBudgetSelect compute sum() OVER a global order
    // via the two-phase ranged cumsum: a naive unpartitioned window would
    // drag the whole corpus through ONE task. The plan must show the
    // distributed range sort, and at most one SinglePartition exchange —
    // the <=64-row bucket-totals branch, never the data path.
    // inlined: production truncates lineage at the shared range exchange
    // (so the input chain runs once, not once per leg); the audit wants
    // the one composed plan those segments add up to
    for (df <- BlockScope.inlined(Seq(
        graft.operators.Curate.seededShuffle(
          Tables.table(spark, dir, "documents").select("doc_id"),
          "doc_id", "epoch1"),
        graft.operators.Curate.tokenBudgetSelect(
          Tables.table(spark, dir, "documents")
            .select(col("doc_id"), col("n_chars").as("toks"),
              col("doc_id").cast("double").as("score")),
          "doc_id", "toks", "score", budget = 1000L)))) {
      val p = plan(df)
      assert(p.contains("rangepartitioning"),
        s"distributed range sort missing:\n$p")
      val singles = "SinglePartition".r.findAllIn(p).size
      assert(singles <= 1, s"data path windows on one reducer:\n$p")
    }
  }

  test("hash expressions stay inside whole-stage codegen") {
    // parquet-backed input so the optimizer can't constant-fold the hashes
    val df = Tables.table(spark, dir, "documents")
      .select(graft.functions.exprs.stable_hash64(col("text")).as("h1"),
        graft.functions.exprs.poly_hash(col("text")).as("h2"))
    val p = plan(df)
    // "*(n)" prefixes mark WholeStageCodegen stages in the plan string
    assert(p.contains("*(1) Project [stablehash64") ||
      p.contains("WholeStageCodegen"), s"codegen lost:\n$p")
    assert(df.distinct().count() > 0)
  }
  test("crawl-ingest kernels stay inside whole-stage codegen") {
    // the full ingest chain (compress -> member split -> record parse ->
    // charset-aware decode -> html/url extraction) is projections + one
    // generator: no exchange, no non-codegen expression boundary
    val df = Tables.table(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.codecs.compress_bytes(concat(
          lit("WARC/1.0\r\nWARC-Target-URI: http://ex.com/p?utm_source=1\r\n\r\n<p>"),
          col("text"), lit("</p>")).cast("binary"), lit("gzip")).as("chunk"))
      .select(col("doc_id"),
        explode(graft.functions.codecs.gzip_members(col("chunk"))).as("m"))
      .select(col("doc_id"),
        graft.functions.codecs.warc_record(col("m")).as("r"))
      .select(col("doc_id"),
        graft.functions.web.url_canonical(
          element_at(col("r.headers"), "WARC-Target-URI")).as("u"),
        graft.functions.web.html_text(graft.functions.charsets.decode_text(
          col("r.body"),
          element_at(col("r.headers"), "Content-Type"))).as("t"))
    val p = plan(df)
    // "*(1)" prefixes mark whole-stage-codegen stage 1: the projections
    // AND the member-explode generator all fuse into the scan stage
    assert(p.contains("*(1) Project") && p.contains("*(1) Generate"),
      s"codegen lost:\n$p")
    assert(!p.contains("Exchange"), s"ingest chain should not shuffle:\n$p")
    // the full HTTP-envelope chain (httpPages: WARC -> HTTP -> dechunk ->
    // decompress -> charset decode) keeps the same shape: one codegen
    // stage, zero exchanges
    val http = graft.sources.Content.httpPages(
      Tables.table(spark, dir, "documents")
        .select(col("doc_id"),
          graft.functions.codecs.compress_bytes(concat(
            lit("WARC/1.0\r\nWARC-Type: response\r\n\r\n" +
              "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>"),
            col("text"), lit("</p>")).cast("binary"), lit("gzip"))
            .as("chunk")),
      "doc_id", "chunk")
    val ph = plan(http)
    assert(ph.contains("*(1) Project") && ph.contains("*(1) Generate"),
      s"http chain codegen lost:\n$ph")
    assert(!ph.contains("Exchange"), s"http chain should not shuffle:\n$ph")
    val out = df.where(col("u") === "http://ex.com/p").count()
    assert(out > 0)
  }

  test("round-8 ops: anomaly stats broadcast; stratified sample has no " +
      "global window; AUC cumsum range-partitions") {
    // robustAnomalies: both stats joins are broadcasts — the fact rows
    // never shuffle for dimension-sized median/MAD tables
    val anomaly = graft.streaming.Streams.robustAnomalies(
      Tables.events(spark, dir), "event_id", "event_type", "value", 3.0)
    val ap = plan(anomaly)
    assert(ap.contains("BroadcastHashJoin"), s"anomaly stats not broadcast:\n$ap")
    assert(!ap.contains("SortMergeJoin"), s"fact-side shuffle join:\n$ap")
    // the broadcast contract is ENFORCED: above the group-cardinality
    // threshold the explicit hint disappears, so the planner's size-based
    // safety decides (auto-broadcast off here to observe the fallback)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val guarded = graft.streaming.Streams.robustAnomalies(
        Tables.events(spark, dir), "event_id", "event_type", "value", 3.0,
        maxBroadcastGroups = 1L)
      val gp = plan(guarded)
      assert(!gp.contains("BroadcastHashJoin"),
        s"fallback still broadcasts:\n$gp")
      // the hinted path still broadcasts even with auto-broadcast off ...
      val hinted = graft.streaming.Streams.robustAnomalies(
        Tables.events(spark, dir), "event_id", "event_type", "value", 3.0)
      assert(plan(hinted).contains("BroadcastHashJoin"))
      // ... and both paths agree row-for-row
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      assert(rows(guarded) == rows(hinted))
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")

    // stratifiedSample: every window is partitioned (two-phase salted
    // top-n) — no single-task global sort
    val strat = graft.operators.Curate.stratifiedSample(
      Tables.table(spark, dir, "documents").select("doc_id", "lang"),
      "lang", "doc_id", 10, "s8")
    val sp = plan(strat)
    // no GLOBAL sort (a Sort node with global=true) — every sort is a
    // partition-local one under a hash exchange
    assert(!sp.split("\n").exists(l =>
      l.contains("Sort ") && l.contains(", true, 0")),
      s"global sort in stratified sample:\n$sp")

    // rocAuc: the cumulative pass range-partitions (Exchange rangepartitioning)
    import spark.implicits._
    val aucp = BlockScope.inlined(plan(graft.operators.TextAnalysis.rocAuc(
      Seq((1L, true), (2L, false)).toDF("s", "y"), "s", "y")))
    assert(aucp.contains("rangepartitioning"),
      s"AUC cumsum not range-partitioned:\n$aucp")
  }

  test("z-order key stays in whole-stage codegen; layout is a range exchange") {
    val o = Tables.table(spark, dir, "orders")
      .withColumn("ts_sec", unix_timestamp(col("o_orderdate")))
    val z = graft.operators.Layout.zorderBy(o, "o_custkey", "ts_sec", 8)
    val p = plan(z)
    assert(p.contains("rangepartitioning(z_value"),
      s"no range partition on z_value:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      s"z computation left codegen:\n$p")
  }

  /** Lines of `src/main/scala`, outside the files `owners`, that match `pat`. */
  private def sourceLinesOutside(pat: scala.util.matching.Regex,
      owners: String*): List[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root),
      s"sources not found from ${root.toAbsolutePath}")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && !owners.exists(f.endsWith))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if pat.findFirstIn(line).isDefined =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }.toList
  }

  test("BlockScope is the only code that checkpoints a Dataset") {
    // every materialization boundary goes through `ds.boundary()`, so the
    // scope, reliable-mode and inlined contracts reach all of them; a
    // direct call would silently opt out of all three
    val offenders = sourceLinesOutside(
      """\.(localCheckpoint|checkpoint)\(""".r, "core/BlockScope.scala")
    assert(offenders.isEmpty,
      "direct checkpoint calls outside core/BlockScope.scala (use " +
        "`.boundary()`):\n" + offenders.mkString("\n"))
  }

  test("QueryProfile is the only code that extends SparkListener") {
    // one listener, registered and removed per measurement, so harnesses
    // cannot drift apart on what they count or leak listeners
    val offenders = sourceLinesOutside(
      """(extends|new)\s+[\w.]*\bSparkListener\b""".r, "core/QueryProfile.scala")
    assert(offenders.isEmpty,
      "SparkListener subclasses outside core/QueryProfile.scala (use " +
        "`QueryProfile.measure`):\n" + offenders.mkString("\n"))
  }

  test("only BlockScope and HttpApi start threads") {
    // Spark local properties (job group, description) are per thread: a job
    // launched from a pooled or borrowed thread carries whatever its last
    // user set, so engine code forks through `BlockScope.fork`, which hands
    // the caller's properties over; HttpApi owns the service's handler pool
    val offenders = sourceLinesOutside(
      """new\s+Thread\b|Executors\.|ExecutionContext|Future\b|ForkJoinPool|ThreadPoolExecutor""".r,
      "core/BlockScope.scala", "service/HttpApi.scala")
    assert(offenders.isEmpty,
      "threads started outside core/BlockScope.scala and service/HttpApi.scala " +
        "(use `BlockScope.fork`):\n" + offenders.mkString("\n"))
  }
}
